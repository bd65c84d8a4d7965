package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.{GraftQuery, Par}
import SimFns._

/** Approximate-nearest-neighbor search over the embedding corpus.
  *
  * Scale design: the query set is tiny (vec_id % 100 = 0) and is BROADCAST
  * against the full corpus scan — brute force is one embarrassingly-parallel
  * pass, no shuffle of the corpus. The LSH variant replaces the full scan
  * with an equality join on the sign-LSH bucket: each vector hashes to one
  * of 2^NumPlanes buckets (256 at 8 planes), so a 100 TB corpus shuffles
  * once by bucket (or is pre-bucketed at write time) and each query probes
  * its own bucket plus the NumPlanes 1-bit-flip neighbors — ~3.5% of the
  * data, with multi-probe recovering the recall finer buckets would lose.
  */
object SimQueries {

  /** (vec_id, label, v double[], norm) */
  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))

  private def queriesOf(v: DataFrame): DataFrame =
    v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))

  /** Brute-force cosine top-10 per query — the exact baseline. */
  val bruteforce: GraftQuery = GraftQuery(
    "ann_bruteforce_topk",
    "ANN baseline: broadcast queries x full scan, cosine top-10 per query",
    SimOracle.bruteforceSql) { (s, d) =>
    val v = vecs(s, d)
    val q = broadcast(queriesOf(v))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), col("vec_id"))
    q.join(v, col("vec_id") =!= col("qid"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("vec_id"), col("cosine"))
      .orderBy("qid", "rn")
  }

  /** Sign-LSH bucketed top-10 with 1-bit multi-probe: each query probes its
    * own bucket plus the NumPlanes Hamming-1 neighbors (see
    * [[SimFns.probeBuckets]]), so a candidate scan touches (NumPlanes+1)/2^
    * NumPlanes of the corpus — ~3.5% at 8 planes — while recovering the
    * recall that single-probe loses to finer bucketing. The probe explode
    * happens on the BROADCAST query side; the corpus is never replicated.
    * Compare against the brute-force baseline for recall (SimSpec pins it).
    */
  val lshTopk: GraftQuery = GraftQuery(
    "ann_lsh_topk",
    s"ANN via sign-LSH ($NumPlanes planes, ${1 << NumPlanes} buckets, 1-bit multi-probe): bucket-join + cosine top-10",
    SimOracle.lshTopkSql) { (s, d) =>
    val v = vecs(s, d).withColumn("bucket", lshBucket(col("v")))
    val q = broadcast(v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), explode(probeBuckets(col("bucket"))).as("probe")))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), col("vec_id"))
    q.join(v, col("bucket") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("vec_id"), col("cosine"))
      .orderBy("qid", "rn")
  }

  /** Recall@10 of the LSH probe vs the exact baseline, as a GRADED
    * artifact: per query, how many of the true top-10 the bucketed probe
    * recovered. This is the number an index operator watches when trading
    * probe cost against quality (more planes = cheaper probes, lower
    * recall; more multi-probe bits = the reverse) — the same
    * quality-attestation pattern as the sketch error-band oracles. The
    * left join keeps 0-hit queries visible instead of dropping them.
    */
  val lshRecall: GraftQuery = GraftQuery(
    "ann_lsh_recall",
    s"recall@10 of sign-LSH multi-probe ANN vs the brute-force baseline, per query",
    SimOracle.lshRecallSql) { (s, d) =>
    val bf = bruteforce.frame(s, d).select(col("qid"), col("vec_id"))
    val ls = lshTopk.frame(s, d)
      .select(col("qid").as("lqid"), col("vec_id").as("lvec"))
    bf.join(ls, col("qid") === col("lqid") && col("vec_id") === col("lvec"),
        "left")
      .groupBy(col("qid"))
      .agg(
        count(col("lvec")).as("n_hits"),
        (count(col("lvec")) / lit(10.0)).as("recall"))
      .orderBy("qid")
  }

  /** Sign-fingerprint width for [[binaryHamming]] — 60 of the 64 dims,
    * the repo's hash60 convention: values stay below 2^63 so BIGINT
    * arithmetic agrees between Spark and DuckDB (bit 63 would wrap in
    * Spark and RAISE in DuckDB; an unsigned-64 or 2x32-word layout
    * restores the last 4 dims in production, same plan).
    */
  val SignBits = 60

  /** One 60-bit sign fingerprint per vector: bit i set iff v[i+1] > 0 —
    * a static 60-term sum of exact power-of-two longs (codegen'd, no
    * higher-order functions).
    */
  private[graft] def signFp(v: Column): Column =
    (0 until SignBits).map { i =>
      when(element_at(v, i + 1) > 0.0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Test hook for the fingerprint expression (SimSpec hand vectors). */
  def signFpPublic(v: Column): Column = signFp(v)

  /** BINARY (sign-bit) quantization + Hamming retrieval — the 64x
    * compression point of the quantization family (`embedding_int8_quant`
    * is 4x/rounded values; PQ is 8 bytes/codebook): each vector collapses
    * to a [[SignBits]]-bit fingerprint (ONE long — 8 bytes vs 512), and
    * stage 1 ranks candidates by popcount(xor) — integer ops a SIMD scan
    * eats at memory bandwidth; stage 2 re-ranks ONLY the per-query
    * shortlist with exact cosine over the full vectors, the two-stage
    * read pattern that makes binary indexes fast at 100 TB: the corpus
    * scan touches 8 bytes/vector, full vectors load for top-10·|Q| rows.
    *
    * Scale shape: fingerprints are one narrow map over the corpus
    * (checkpointed — both the query side and the scan side read them);
    * queries broadcast; the rerank joins the model-sized shortlist back
    * broadcast. Determinism: fingerprints/Hamming are exact integers
    * with (hamming, vec_id) rank ties; rerank cosine is the
    * [[SimFns.dot]] ordered fold.
    */
  val binaryHamming: GraftQuery = GraftQuery(
    "ann_binary_hamming",
    s"binary sign quantization ($SignBits-bit fingerprints): Hamming top-10 shortlist + exact cosine rerank",
    SimOracle.binaryHammingSql) { (s, d) =>
    val v = vecs(s, d)
    val fps = v.select(col("vec_id"), signFp(col("v")).as("f"))
      .localCheckpoint()
    val q = broadcast(fps.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("f").as("qf")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("hamming"), col("vec_id"))
    val shortlist = q.join(fps, col("vec_id") =!= col("qid"))
      .withColumn("hamming", expr("CAST(bit_count(qf ^ f) AS INT)"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("vec_id"), col("hamming"))
    val qv = broadcast(v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm")))
    shortlist
      .join(v.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .join(qv, Seq("qid"))
      .withColumn("cosine",
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .select(col("qid"), col("rn"), col("vec_id"), col("hamming"),
        col("cosine"))
      .orderBy("qid", "rn")
  }

  /** Recall@10 of the binary-Hamming shortlist vs the exact cosine
    * baseline — the [[lshRecall]] grading convention: the honest number
    * that prices 64x compression in retrieval quality; 0-hit queries
    * stay visible via the left join.
    */
  val binaryRecall: GraftQuery = GraftQuery(
    "ann_binary_recall",
    "recall@10 of the binary sign-fingerprint shortlist vs the brute-force baseline, per query",
    SimOracle.binaryRecallSql) { (s, d) =>
    val bf = bruteforce.frame(s, d).select(col("qid"), col("vec_id"))
    val bh = binaryHamming.frame(s, d)
      .select(col("qid").as("hqid"), col("vec_id").as("hvec"))
    bf.join(bh, col("qid") === col("hqid") && col("vec_id") === col("hvec"),
        "left")
      .groupBy(col("qid"))
      .agg(
        count(col("hvec")).as("n_hits"),
        (count(col("hvec")) / lit(10.0)).as("recall"))
      .orderBy("qid")
  }

  /** Out-degree of the navigable k-NN graph ([[graphEdges]]). Raised
    * 8 → 12 in round 16 after an A/B at sf0.1: degree buys as much
    * recall as extra sweeps (0.235 → 0.295 at equal sweeps) at near-zero
    * serve cost (the build's top-G window cuts wider, the search plan
    * depth is unchanged), where 4 → 6 sweeps cost ~4x the search time
    * for the same recall point.
    */
  val GraphDegree = 12

  /** Beam width carried through each [[graphBeam]] sweep. */
  val BeamWidth = 24

  /** Fixed number of greedy-expansion sweeps (driver-unrolled, matching
    * the oracle's CTE unroll).
    */
  val BeamSweeps = 4

  /** Entry points per query: the nearest-cell count the layer-0 router
    * probes ([[graphBeam]]) — IVF multi-probe as the HNSW top layer.
    */
  val GraphEntryProbes = 3

  /** Deterministic navigable k-NN graph — the HNSW-class index family's
    * BUILD stage, single-layer (an NSW graph): each vector's
    * [[GraphDegree]] most-cosine-similar neighbors among its LSH
    * multi-probe candidates (the [[nearDupPairs]] candidate generator, so
    * the build is the SAME bounded bucket join — never all-pairs), made
    * undirected by adding every reverse edge (NSW's symmetric link
    * augmentation; degree is bounded by 2x[[GraphDegree]]).
    *
    * 100 TB shape: the build is one bucket-partitioned join + a per-src
    * top-G window (linear in n at fixed bucket occupancy); the edge table
    * is n x 2G narrow rows, partitioned by src at write time so a beam
    * expansion reads only the frontier's partitions. Determinism: cosine
    * ties break on dst id, and the reverse-union dedups exact (src, dst)
    * rows — both engines rank the identical doubles.
    */
  private def graphEdges(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).withColumn("bucket", lshBucket(col("v")))
    val x = v.select(col("vec_id").as("src"), col("v").as("sv"),
      col("nrm").as("snrm"), explode(probeBuckets(col("bucket"))).as("probe"))
    val cand = x.join(v, col("bucket") === col("probe")
        && col("vec_id") =!= col("src"))
      .select(col("src"), col("vec_id").as("dst"),
        (dot(col("sv"), col("v")) / (col("snrm") * col("nrm"))).as("cosine"))
    val w = Window.partitionBy(col("src")).orderBy(desc("cosine"), col("dst"))
    val fwd = cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= GraphDegree)
      .select(col("src"), col("dst"))
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Persisted-index table for the navigable graph (the shared-model
    * registry discipline): the k-NN graph is BUILT ONCE per (session,
    * sfDir) and served from a warehouse table — exactly how a graph
    * index deploys (HNSW builds are the expensive phase; every query
    * batch reads the frozen graph).
    */
  val GraphEdgesTable = "knn_edges_full"
  private def sharedGraphEdges(s: SparkSession, d: String): DataFrame =
    graft.api.SharedModels.table(s, d, GraphEdgesTable)(graphEdges(s, d))

  /** Greedy beam search over [[graphEdges]] — the HNSW-class SEARCH
    * stage, TWO-LAYER with MULTI-PROBE entries: each query ranks the
    * trained centroids (broadcast model) and enters at its
    * [[GraphEntryProbes]] nearest cells' representative members
    * ([[sharedCellReps]]) — IVF multi-probe as the HNSW top layer, so a
    * query sitting on a cell boundary still seeds a beam inside its
    * true neighborhood. Entry choice costs one broadcast of the k-row
    * centroid list + the k-row rep table, zero extra corpus passes.
    * Each of the [[BeamSweeps]] sweeps then expands the current beam's
    * out-edges, scores the union, and keeps the [[BeamWidth]] best per
    * query. Recall@10 progression, graded continuously by
    * `ann_graph_recall` (sf0.01 / sf0.1): fixed corpus-min entry +
    * degree 8 (round 15) 0.34 / 0.225; the query's own-cell rep
    * 0.44 / 0.235; degree 12 0.46 / 0.295; 3-cell multi-probe entries
    * 0.56 / 0.43; beam width 12 -> 24 (round 17) 0.76 / 0.545 — vs LSH
    * multi-probe 0.225 and single-cell IVF 0.095 on the same sf0.1
    * corpus, the graph is the family's strongest index by 2x. The
    * round-17 same-window knob A/B at sf0.1 (each run retrains from
    * scratch, wall times within ±5%): probes 3->5 bought +0.005,
    * sweeps 4->5 +0.015, degree 12->16 +0.03 (and +33% edge table,
    * paid by every search AND the incremental attach), width 12->20
    * +0.07, width 12->24 +0.115 at no measurable cost — WIDTH is the
    * recall knob at this corpus scale: it diversifies retained paths
    * per sweep without touching the persisted index or plan depth.
    * Returns the
    * final beam as (qid, vec_id) WITHOUT the self row — a query vector
    * is its own nearest neighbor and may even be the entry point, so the
    * self match rides the beam during search (it expands its own true
    * neighborhood) and drops only at result time, the [[bruteforce]]
    * vec_id <> qid convention.
    *
    * Scale shape: a sweep is ONE equi-join of the (queries x BeamWidth)
    * frontier against the src-partitioned edge table plus a broadcast of
    * the query batch — per-sweep cost is proportional to the query
    * batch, independent of corpus size. Unlike the corpus-sized
    * iterative states (the [[graft.dedup.DedupQueries]] CC loop), the
    * frontier stays query-batch-sized at every sweep, so the sweeps
    * COMPOSE LAZILY into one plan — no per-sweep checkpoint jobs; Spark
    * runs the whole unrolled search as a single job over the frozen
    * edge table. Determinism: the expansion union is exact-row
    * DISTINCT, scoring reuses the plane-fold cosine parity, and every
    * rank breaks ties on vec_id — the oracle unrolls the identical
    * sweeps CTE-for-CTE (AS MATERIALIZED, the dedup_kcore_peel recipe).
    */
  private def graphBeam(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val edges = sharedGraphEdges(s, d)
    val q = broadcast(queriesOf(v))
    // layer-0 routing: each query ranks the trained centroids (broadcast
    // model, the ann_ivf_adaptive_nprobe distance recipe) and enters at
    // the [[GraphEntryProbes]] nearest cells' persisted representatives —
    // IVF multi-probe as the HNSW top layer, so a query sitting on a
    // cell boundary still seeds a beam inside its true neighborhood.
    val quant = sharedQuantizer(s, d)
    val cs = broadcast(quant.cents.agg(array_sort(collect_list(
      struct(col("j"), col("c"), dot(col("c"), col("c")).as("cc"))))
      .as("cs")))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cdist"), col("cell"))
    var beam = q.crossJoin(cs)
      .withColumn("qq", dot(col("qv"), col("qv")))
      .select(col("qid"),
        explode(transform(col("cs"), e =>
          struct(
            (col("qq") + e.getField("cc")
              - lit(2.0) * dot(col("qv"), e.getField("c"))).as("cdist"),
            e.getField("j").as("cell")))).as("pc"))
      .select(col("qid"), col("pc.cdist").as("cdist"),
        col("pc.cell").as("cell"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= GraphEntryProbes)
      .join(broadcast(sharedCellReps(s, d)), "cell")
      .select(col("qid"), col("rep_id").as("vec_id"))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), col("vec_id"))
    for (_ <- 1 to BeamSweeps) {
      val expand = beam.join(edges, beam("vec_id") === edges("src"))
        .select(col("qid"), col("dst").as("vec_id"))
      val cands = beam.unionByName(expand).distinct()
      beam = cands
        .join(v, "vec_id")
        .join(q, "qid")
        .withColumn("cosine",
          dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= BeamWidth)
        .select(col("qid"), col("vec_id"))
    }
    beam.filter(col("vec_id") =!= col("qid"))
  }

  /** Persisted SERVED top-10 of the graph beam search — the
    * [[ivfpqPersisted]] train→persist→serve discipline applied to the
    * search result itself: [[graphTopk]] serves the table and
    * [[graphRecall]] grades it, so the beam never executes twice for
    * the same (session, corpus). Parquet roundtrips the cosine doubles
    * exactly, and the SimSpec determinism pin still rebuilds from
    * scratch through [[graft.api.SharedModels.resetAll]].
    */
  val GraphTopkTable = "graph_topk_full"
  private def sharedGraphTopk(s: SparkSession, d: String): DataFrame =
    graft.api.SharedModels.table(s, d, GraphTopkTable) {
      val v = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
      val q = broadcast(queriesOf(v))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("cosine"), col("vec_id"))
      graphBeam(s, d)
        .join(v, "vec_id")
        .join(q, "qid")
        .withColumn("cosine",
          dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("rn"), col("vec_id"), col("cosine"))
    }

  /** HNSW-class graph ANN: navigable k-NN graph + fixed-entry greedy beam
    * search, top-10 per query — completes the index-family story
    * (flat / LSH / IVF / PQ / matryoshka / graph) with the class
    * production vector DBs default to. Served from the persisted
    * [[sharedGraphTopk]] result (the search runs once per session/corpus;
    * [[graphRecall]] reads the same table instead of re-searching).
    */
  val graphTopk: GraftQuery = GraftQuery(
    "ann_graph_topk",
    s"graph ANN (2-layer NSW shape): degree-$GraphDegree k-NN graph, " +
      s"$BeamSweeps-sweep beam-$BeamWidth search entered at the " +
      s"$GraphEntryProbes nearest cells' representatives, cosine top-10",
    SimOracle.graphTopkSql) { (s, d) =>
    sharedGraphTopk(s, d)
      .select(col("qid"), col("rn"), col("vec_id"), col("cosine"))
      .orderBy("qid", "rn")
  }

  /** Recall@10 of the graph beam search vs the brute-force baseline —
    * the graded-accuracy artifact ([[lshRecall]]/[[ivfRecall]]
    * convention), reading the SAME persisted [[sharedGraphTopk]] result
    * the topk query serves (the recall grade is a property of the served
    * artifact — re-running the beam would grade a different execution).
    * SimSpec additionally pins beam determinism (two independent builds
    * of the frame collect identically) and that graph recall meets the
    * single-cell IVF probe's.
    */
  val graphRecall: GraftQuery = GraftQuery(
    "ann_graph_recall",
    "recall@10 of graph-beam ANN vs the brute-force baseline, per query",
    SimOracle.graphRecallSql) { (s, d) =>
    val bf = bruteforce.frame(s, d).select(col("qid"), col("vec_id"))
    val gr = sharedGraphTopk(s, d)
      .select(col("qid").as("gqid"), col("vec_id").as("gvec"))
    bf.join(gr, col("qid") === col("gqid") && col("vec_id") === col("gvec"),
        "left")
      .groupBy(col("qid"))
      .agg(
        count(col("gvec")).as("n_hits"),
        (count(col("gvec")) / lit(10.0)).as("recall"))
      .orderBy("qid")
  }

  /** Persisted augmented-graph table for [[graphIncremental]]. */
  val GraphIncrTable = "knn_edges_incr"

  /** Graph-index MAINTENANCE — the [[ivfpqIncremental]] contract for the
    * navigable graph: the index over the 90% "old" corpus is built and
    * persisted (the [[graphEdges]] recipe restricted to old vectors — the
    * builder `ann_graph_topk`'s oracle verifies on the full corpus), then
    * the 10% hash batch ATTACHES to the FROZEN graph: each new vector
    * takes its [[GraphDegree]] most-cosine-similar links among OLD nodes
    * in its LSH probe buckets — new-new links are deferred to the next
    * rebuild, the standard freshness/quality trade of incremental graph
    * indexes — and the forward+backlink rows APPEND to the table
    * (untouched old partitions stay on disk, the
    * [[graft.sources.Warehouse.appendTable]] cost model). The report
    * reads the PERSISTED augmented table (a failed append cannot
    * hash-match): per new vector, its attached degree and nearest link.
    *
    * 100 TB shape: the attach probe costs O(|batch| x bucket occupancy),
    * never a rebuild; the append moves only the batch's edge rows.
    * Determinism: the same plane-fold cosine + (cosine DESC, dst)
    * tie-break as the build; parquet roundtrips the doubles exactly.
    */
  val graphIncremental: GraftQuery = GraftQuery(
    "ann_graph_incremental",
    s"graph-index maintenance: 10% hash batch attaches degree-$GraphDegree links to the frozen k-NN graph, per-vector degree + nearest link from the persisted table",
    SimOracle.graphIncrementalSql) { (s, d) =>
    import graft.sources.Warehouse
    val v = vecs(s, d).withColumn("bucket", lshBucket(col("v")))
      .select(col("vec_id"), col("v"), col("nrm"), col("bucket"))
      .localCheckpoint()
    val hb = call_function("hash60", col("vec_id").cast("string")) % 10
    val old = v.filter(hb =!= 0)
    val nb = v.filter(hb === 0)
    val w = Window.partitionBy(col("src")).orderBy(desc("cosine"), col("dst"))
    // top-G links for `src` vectors among the OLD nodes in their buckets
    def topG(src: DataFrame): DataFrame = src
      .select(col("vec_id").as("src"), col("v").as("sv"),
        col("nrm").as("snrm"), explode(probeBuckets(col("bucket"))).as("probe"))
      .join(old, col("bucket") === col("probe") && col("vec_id") =!= col("src"))
      .select(col("src"), col("vec_id").as("dst"),
        (dot(col("sv"), col("v")) / (col("snrm") * col("nrm"))).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= GraphDegree)
      .select(col("src"), col("dst"))
    def undirected(fwd: DataFrame): DataFrame =
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    Warehouse.replaceTable(undirected(topG(old)), GraphIncrTable)
    Warehouse.appendTable(undirected(topG(nb)), GraphIncrTable)
    // report FROM the persisted augmented table: a new vector's edges
    // there are exactly its attach links (backlinks land src=old)
    val aug = s.table(s"${Warehouse.Schema}.$GraphIncrTable")
    val scored = aug
      .join(nb.select(col("vec_id").as("sv2"), col("v").as("svec"),
        col("nrm").as("snrm2")), col("src") === col("sv2"))
      .join(v.select(col("vec_id").as("dv"), col("v").as("dvec"),
        col("nrm").as("dnrm")), col("dst") === col("dv"))
      .select(col("src"), col("dst"),
        (dot(col("svec"), col("dvec")) / (col("snrm2") * col("dnrm")))
          .as("cosine"))
    scored.withColumn("rk", row_number().over(w))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("degree"),
        max(when(col("rk") === 1, col("dst"))).as("nearest_id"),
        max(when(col("rk") === 1, col("cosine"))).as("nearest_cosine"))
      .select(col("src").as("vec_id"), col("degree"), col("nearest_id"),
        col("nearest_cosine"))
      .orderBy("vec_id")
  }

  /** Embedding near-dup: top-20 most-cosine-similar pairs, candidates
    * restricted to LSH buckets within Hamming distance 1 (the embedding
    * analogue of MinHash banding, plus multi-probe). With 256 buckets the
    * per-bucket population is ~n/256 and each vector meets 9 buckets'
    * worth of candidates — O(9·n²/256) pair evaluations, never O(n²), and
    * the constant improves quadratically as NumPlanes grows with corpus
    * size. Each pair joins exactly once: x's probe list holds DISTINCT
    * bucket values and y's bucket matches at most one of them.
    */
  val nearDupPairs: GraftQuery = GraftQuery(
    "embedding_neardup_pairs",
    "embedding near-dup: LSH-bucket pairs (1-bit multi-probe), cosine top-20",
    SimOracle.nearDupPairsSql) { (s, d) =>
    val v = vecs(s, d).withColumn("bucket", lshBucket(col("v")))
    val x = v.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("nrm").as("na"), explode(probeBuckets(col("bucket"))).as("probe"))
    x.join(v.as("y"),
        col("y.bucket") === col("probe") && col("vec_a") < col("y.vec_id"))
      .select(
        col("vec_a"), col("y.vec_id").as("vec_b"),
        (dot(col("va"), col("y.v")) / (col("na") * col("y.nrm"))).as("cosine"))
      .orderBy(desc("cosine"), col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** Label centroids: mean vector per label via ordered per-dimension
    * aggregation — posexplode + groupBy(label, pos) keeps each dimension's
    * sum independent; the quantized-sum route makes it order-insensitive.
    */
  val labelCentroids: GraftQuery = GraftQuery(
    "label_centroid_norms",
    "per-label centroid (posexplode + quantized mean per dim) + its norm",
    SimOracle.labelCentroidsSql) { (s, d) =>
    val v = vecs(s, d)
    val dims = v.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
    val cent = dims.groupBy(col("label"), col("pos"))
      .agg((sum(graft.api.Det.quantize(col("x"), 9)) /
        (lit(graft.api.Det.pow10(9)) * count(lit(1)))).as("m"))
    cent.groupBy(col("label"))
      .agg(sum(graft.api.Det.quantize(col("m") * col("m"), 12)).as("ss_i"))
      .select(col("label"),
        sqrt(col("ss_i") / lit(graft.api.Det.pow10(12))).as("centroid_norm"))
      .orderBy("label")
  }

  /** End-to-end retrieval: ANN over the LSH bucket, then join the hits back
    * to `documents` for their metadata — the shape of a RAG / example-
    * selection pipeline (vector index keyed by doc id + metadata store).
    * The metadata join is an equi-join on the id AFTER top-k pruning, so
    * only k rows per query hit the documents table.
    */
  val retrieval: GraftQuery = GraftQuery(
    "doc_retrieval",
    "retrieval: LSH-bucket ANN top-5 + metadata join back to documents",
    SimOracle.retrievalSql) { (s, d) =>
    val v = vecs(s, d).withColumn("bucket", lshBucket(col("v")))
    val q = broadcast(v.filter(col("vec_id") % 250 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), explode(probeBuckets(col("bucket"))).as("probe")))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), col("vec_id"))
    val hits = q.join(v, col("bucket") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("vec_id"), col("cosine"))
    hits
      .join(Tables.documents(s, d).select(
        col("doc_id"), col("lang"), col("source")),
        col("vec_id") === col("doc_id"), "left")
      .select("qid", "rn", "vec_id", "cosine", "lang", "source")
      .orderBy("qid", "rn")
  }

  /** Array-function surface over the vector column: per-vector min/max/
    * ordered-fold mean and positive-component count — pure higher-order
    * functions, no explode, one pass over the scan. (Higher-order fns are
    * interpreted expressions, not codegen'd — fine here because each is
    * evaluated once per row; see the minhash signature note in
    * [[graft.dedup.DedupQueries]] for where that distinction bites.)
    */
  val vectorStats: GraftQuery = GraftQuery(
    "embedding_vector_stats",
    "array fns: per-vector min/max/mean/positive-count without explode",
    SimOracle.vectorStatsSql) { (s, d) =>
    val v = toDouble(col("embedding"))
    Tables.embeddings(s, d)
      .select(
        col("vec_id"),
        array_min(v).as("vmin"),
        array_max(v).as("vmax"),
        (aggregate(v, lit(0.0), (acc, x) => acc + x) / size(v)).as("vmean"),
        size(filter(v, _ > 0)).as("n_positive"))
      .orderBy("vec_id")
  }

  /** IVF-style ANN: the coarse quantizer is the label cell (stand-in for
    * k-means assignment); a query probes only its own cell. Complements
    * sign-LSH: cells come from data clustering rather than random planes —
    * at scale the corpus is bucketed/partitioned by cell at write time and
    * a probe reads one partition.
    */
  val ivfTopk: GraftQuery = GraftQuery(
    "ann_ivf_topk",
    "ANN via IVF cells (label as coarse quantizer): probe own cell, cosine top-10",
    SimOracle.ivfTopkSql) { (s, d) =>
    val v = vecs(s, d)
    val q = broadcast(v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("label").as("qcell")))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), col("vec_id"))
    q.join(v, col("label") === col("qcell") && col("vec_id") =!= col("qid"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("vec_id"), col("cosine"))
      .orderBy("qid", "rn")
  }

  /** Recall@10 of the IVF cell probe vs the exact baseline — the second
    * graded index-quality artifact, symmetric to [[lshRecall]]. IVF trades
    * differently than LSH: a cell probe reads ONE partition (cheapest
    * possible scan) but loses every neighbor that lives across the cell
    * boundary, so its recall is structurally lower than multi-probe LSH at
    * comparable candidate counts — this query is the artifact that shows
    * that trade instead of asserting it. Same left-join shape: 0-hit
    * queries stay visible.
    */
  val ivfRecall: GraftQuery = GraftQuery(
    "ann_ivf_recall",
    "recall@10 of IVF single-cell ANN vs the brute-force baseline, per query",
    SimOracle.ivfRecallSql) { (s, d) =>
    val bf = bruteforce.frame(s, d).select(col("qid"), col("vec_id"))
    val iv = ivfTopk.frame(s, d)
      .select(col("qid").as("iqid"), col("vec_id").as("ivec"))
    bf.join(iv, col("qid") === col("iqid") && col("vec_id") === col("ivec"),
        "left")
      .groupBy(col("qid"))
      .agg(
        count(col("ivec")).as("n_hits"),
        (count(col("ivec")) / lit(10.0)).as("recall"))
      .orderBy("qid")
  }

  /** Adaptive-probe slack: a cell is probed while its centroid distance
    * is within [[AdaptProbeEps]] x the nearest centroid's, capped at
    * [[AdaptProbeMax]] cells.
    */
  val AdaptProbeEps = 1.2
  val AdaptProbeMax = 4

  /** IVF with PER-QUERY adaptive nprobe — the [[matryoshkaAdaptive]]
    * self-tuning recipe applied to the probe width: a fixed nprobe
    * over-scans easy queries (one dominant cell) and under-scans hard
    * ones (near a cell boundary, several near-equidistant centroids).
    * The rule is data-derived per query: probe every trained cell whose
    * centroid distance <= [[AdaptProbeEps]] x the nearest centroid's
    * distance, capped at [[AdaptProbeMax]] — boundary queries fan out,
    * interior queries stay at 1 cell. Graded like the other `ann_*`
    * recall artifacts (truth = brute-force cosine top-10), with
    * n_probed riding each row so the cost of the recall is visible
    * per query.
    *
    * Scale shape: the rule adds NOTHING to the probe's data path — the
    * per-query centroid scoring it needs already exists (the fixed-
    * nprobe probe ranks the same distances), the threshold is one
    * window min over k model-state rows per query, and the candidate
    * read stays the probed cells' partitions. Determinism: the same
    * vv + cc - 2 v.c doubles as every kmeans consumer; the <= eps*d1
    * comparison is a single multiply both engines evaluate identically;
    * ties in the cap rank break on cell id.
    */
  val ivfAdaptive: GraftQuery = GraftQuery(
    "ann_ivf_adaptive_nprobe",
    s"IVF with per-query adaptive nprobe (cells within ${AdaptProbeEps}x of nearest, cap $AdaptProbeMax): recall@10 + probed-cell count",
    SimOracle.ivfAdaptiveSql) { (s, d) =>
    val base = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
      .localCheckpoint(eager = false)
    val quant = sharedQuantizer(s, d)
    val cells = kmeansCells(s, d)
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    // per-(query, cell) centroid distances from the broadcast model
    val cs = broadcast(quant.cents.agg(array_sort(collect_list(
      struct(col("j"), col("c"), dot(col("c"), col("c")).as("cc"))))
      .as("cs")))
    val wq = Window.partitionBy(col("qid"))
    val wr = wq.orderBy(col("cdist"), col("cell"))
    val probed = q.crossJoin(cs)
      .withColumn("qq", dot(col("qv"), col("qv")))
      .select(col("qid"), col("qv"), col("qnrm"),
        explode(transform(col("cs"), e =>
          struct(
            (col("qq") + e.getField("cc")
              - lit(2.0) * dot(col("qv"), e.getField("c"))).as("cdist"),
            e.getField("j").as("cell")))).as("pc"))
      .select(col("qid"), col("qv"), col("qnrm"),
        col("pc").getField("cdist").as("cdist"),
        col("pc").getField("cell").as("cell"))
      .withColumn("d1", min(col("cdist")).over(wq))
      .withColumn("rn", row_number().over(wr))
      // rn = 1 is unconditional: floating cancellation can leave d1 a
      // hair NEGATIVE for a query sitting on its centroid, where
      // eps*d1 < d1 would reject even the nearest cell
      .filter(col("rn") <= AdaptProbeMax
        && (col("rn") === 1
          || col("cdist") <= lit(AdaptProbeEps) * col("d1")))
      .withColumn("n_probed", count(lit(1)).over(wq))
      .select(col("qid"), col("qv"), col("qnrm"), col("cell"),
        col("n_probed"))
    // candidates = probed cells' members; exact cosine top-10
    val wc = Window.partitionBy(col("qid"))
      .orderBy(desc("cosine"), col("vec_id"))
    val picks = probed
      .join(cells, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .join(base.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .withColumn("cosine",
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rk", row_number().over(wc))
      .filter(col("rk") <= 10)
      .select(col("qid").as("aq"), col("vec_id").as("av"))
    val bf = bruteforce.frame(s, d).select(col("qid"), col("vec_id"))
    bf.join(picks, col("qid") === col("aq") && col("vec_id") === col("av"),
        "left")
      .groupBy(col("qid"))
      .agg(count(col("av")).as("n_hits"),
        (count(col("av")) / lit(10.0)).as("recall"))
      .join(probed.select(col("qid"), col("n_probed")).distinct(), "qid")
      .orderBy("qid")
  }

  /** Int8 max-abs quantization of the embedding column — the storage/
    * bandwidth scale path for a 100 TB vector corpus (4x smaller than
    * float32, 8x smaller than the double working form): per-vector scale
    * = max|x|, code = round(x*127/scale) as int8, plus the reconstruction
    * diagnostics (MSE, cosine(original, dequantized), saturated-code
    * count) a pipeline gates on before switching its index to int8. Pure
    * higher-order array functions — one pass over the scan, no
    * explode, no shuffle except the presentation sort. Rounding is
    * floor(x+0.5) and every reduction an ordered fold, so the DuckDB twin
    * is bit-exact.
    */
  val int8Quant: GraftQuery = GraftQuery(
    "embedding_int8_quant",
    "int8 max-abs quantization: scale + reconstruction MSE/cosine/saturation per vector",
    SimOracle.int8QuantSql) { (s, d) =>
    val v0 = toDouble(col("embedding"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), v0.as("v"))
      .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q",
        when(col("amax") > 0,
          transform(col("v"),
            x => floor(x * lit(127.0) / col("amax") + lit(0.5))))
          .otherwise(transform(col("v"), _ => lit(0L))))
      .withColumn("dq", transform(col("q"), c => c * col("amax") / lit(127.0)))
      .select(
        col("vec_id"),
        col("amax"),
        (aggregate(
          zip_with(col("v"), col("dq"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, e) => acc + e) / lit(Dims)).as("qmse"),
        when(col("amax") > 0,
          dot(col("v"), col("dq")) / (norm(col("v")) * norm(col("dq"))))
          .otherwise(lit(1.0)).as("qcos"),
        size(filter(col("q"), c => abs(c) === 127)).as("n_saturated"))
      .orderBy("vec_id")
  }

  /** One Lloyd ASSIGNMENT pass, entirely map-side: the k centroids are
    * collapsed into a single broadcast row holding a sorted (j, c) struct
    * array, and each vector picks its cell with `array_min` over
    * (squared-distance, j) structs — no shuffle at all for assignment.
    * ||v-c||^2 expands to vv + cc - 2*(v.c) so every product runs through
    * the codegen'd VecDot; vv is hoisted out of the per-centroid lambda.
    * The oracle computes the same doubles via CROSS JOIN + ROW_NUMBER —
    * identical expression shape per (vector, centroid), so the argmin
    * agrees bit-for-bit.
    */
  private def kmAssign(v: DataFrame, c: DataFrame): DataFrame = {
    // cc = c.c rides the broadcast struct, computed once per CENTROID
    // instead of once per (row, centroid) — same double (same VecDot on
    // the same values), so the argmin and the oracle are unchanged, and
    // the per-row work drops from 3 to 2 dots per centroid. Same-window
    // A/B at sf0.1/k=32 is a WASH (1.82 -> 1.82 s — the sweep loop is
    // job-scheduling-bound at 2000 vectors); kept because the per-row
    // flop saving is the term that grows with corpus size while the
    // fixed per-sweep overhead does not.
    val cs = broadcast(
      c.agg(array_sort(collect_list(struct(col("j"), col("c"),
        dot(col("c"), col("c")).as("cc")))).as("cs")))
    v.crossJoin(cs)
      .withColumn("vv", dot(col("v"), col("v")))
      .withColumn("best",
        array_min(transform(col("cs"), e =>
          struct(
            (col("vv") + e.getField("cc")
              - lit(2.0) * dot(col("v"), e.getField("c"))).as("dist"),
            e.getField("j").as("j")))))
      .select(col("vec_id"), col("v"),
        col("best").getField("j").as("j"),
        col("best").getField("dist").as("dist"))
  }

  /** One Lloyd UPDATE pass: per-cell, per-dimension quantized mean (the
    * [[labelCentroids]] determinism recipe), re-assembled into a centroid
    * array in dimension order. Empty cells keep their previous centroid.
    * The shuffle carries k x Dims (cell, dim, counter) rows after partial
    * aggregation — independent of corpus size.
    */
  private def kmMeans(assigned: DataFrame): DataFrame =
    // ONE shuffle: per-cell member vectors fold element-wise into a
    // Dims-long array of quantized-LONG sums (integer adds commute, so
    // the fold order — collect_list's partition order — cannot change
    // the result), then divide once. Bit-identical to the former
    // posexplode + per-(j,pos) partial-sum + re-assembly pipeline (same
    // LONG sums, same single division), which cost TWO shuffles per
    // sweep; the oracle's per-(j,pos) AVG recipe is unchanged because
    // the doubles agree. Shuffle payload is the cell's member vectors —
    // bounded by the SampleMult*ka group caps during training, never
    // corpus-sized.
    assigned
      .groupBy(col("j"))
      .agg(
        aggregate(collect_list(col("v")),
          array_repeat(lit(0L), Dims),
          (acc, v) => zip_with(acc,
            transform(v, x => graft.api.Det.quantize(x, 9)),
            (a, q) => a + q)).as("sq"),
        count(lit(1)).as("cnt"))
      .select(col("j"), transform(col("sq"),
        q => q / (lit(graft.api.Det.pow10(9)) * col("cnt"))).as("cn"))

  private def kmUpdate(assigned: DataFrame, prev: DataFrame): DataFrame =
    prev.as("p").join(kmMeans(assigned).as("u"),
        col("p.j") === col("u.j"), "left")
      .select(col("p.j").as("j"), coalesce(col("u.cn"), col("p.c")).as("c"))

  /** [[kmUpdate]] for the grouped stage-B sweeps: prev carries the
    * anchor id (aj, j, c); the cell's owning anchor is part of the model
    * state, so it rides through unchanged.
    */
  private def kmUpdateG(assigned: DataFrame, prev: DataFrame): DataFrame =
    prev.as("p").join(kmMeans(assigned).as("u"),
        col("p.j") === col("u.j"), "left")
      .select(col("p.aj").as("aj"), col("p.j").as("j"),
        coalesce(col("u.cn"), col("p.c")).as("c"))

  /** One GROUPED Lloyd assignment pass: each sampled vector argmins over
    * ITS OWN anchor's sub-centroid group only — the per-anchor centroid
    * arrays (k1 rows carrying all k centroids) are broadcast and met with
    * an equi-join on aj, so per-row work is the group size (~k/k1), never
    * k. Same (vv + cc - 2*v.c, j) struct-argmin doubles as [[kmAssign]];
    * the oracle's grouped sweep computes them via JOIN ... ON aj +
    * ROW_NUMBER, bit-identical.
    */
  private def kmAssignGrouped(sv: DataFrame, c: DataFrame): DataFrame = {
    val groups = broadcast(c.groupBy(col("aj"))
      .agg(array_sort(collect_list(struct(col("j"), col("c"),
        dot(col("c"), col("c")).as("cc")))).as("gs")))
    sv.join(groups, "aj")
      .withColumn("vv", dot(col("v"), col("v")))
      .withColumn("best",
        array_min(transform(col("gs"), e =>
          struct(
            (col("vv") + e.getField("cc")
              - lit(2.0) * dot(col("v"), e.getField("c"))).as("dist"),
            e.getField("j").as("j")))))
      .select(col("vec_id"), col("v"),
        col("best").getField("j").as("j"),
        col("best").getField("dist").as("dist"))
  }

  /** IVF coarse-quantizer TRAINING — HIERARCHICAL, the
    * [[SimFns.KmeansKFloor]] scale note's training half: stage A trains
    * k1 = ceil(sqrt(k)) anchors, stage B trains each anchor's ~k/k1
    * sub-centroids in parallel on that anchor's bounded sub-sample, so
    * linear-in-n k never produces a Theta(k^2) sweep. Scale shape per
    * sweep: one broadcast of model state out (k1 anchors, or the k1-row
    * grouped sub-centroid table), one (centroids x Dims)-row shuffle
    * back — the canonical distributed k-means contract (model state
    * moves, data never does). Each sweep's centroid frame is
    * localCheckpointed: without the cut, every later sweep re-executes
    * the whole unrolled chain once per reference (2^sweeps plan
    * blow-up), and the driver still never sees per-vector data.
    */
  private case class Quantizer(cents: DataFrame, anchors: DataFrame, k: Int)

  /** The bounded deterministic training sample: the rows with
    * hash60(vec_id) % n < m — a content-hash THRESHOLD filter (the
    * doc_splits selector), a pure per-row predicate that keeps an
    * expected m of n rows with no global sort and no single-partition
    * top-m funnel (the fix for the TakeOrdered sample that collected n/8
    * rows through one reduce at 1e8 vectors). Deterministic and
    * engine-independent: the oracle applies the identical filter in SQL.
    * Exposed at package level so SimSpec can pin boundedness + nesting
    * (m1 <= m makes the anchor sample a subset of the stage-B sample).
    */
  private[graft] def hashSample(v: DataFrame, n: Long, m: Long): DataFrame =
    v.filter(
      call_function("hash60", col("vec_id").cast("string")) % n < m)

  /** The trained quantizer: cents (aj, j, c) — every sub-centroid tagged
    * with its owning anchor — plus the trained k1 anchors (j, c) and k.
    * Sizing is ONE metadata-cheap count action (parquet answers it from
    * row-group stats; the oracle derives the same k/k1/m/m1 in SQL via
    * the `kn` scalar-subquery CTE). Stage A: anchors init from the k1
    * lowest vec_ids, [[SimFns.KmeansIters]] sweeps over the expected-m1
    * hash-threshold sample. Stage B: the expected-m sample is assigned
    * to its nearest trained anchor ([[kmAssign]] at k1 candidates),
    * capped at SampleMult*ka rows per anchor (rank by (md5(vec_id),
    * vec_id) within the group — a bounded per-group sort of sample rows,
    * not corpus rows), sub-centroids init from each group's ka lowest
    * vec_ids at global ids j = offset(aj) + rank - 1, where
    * ka = k/k1 + (aj < k%k1) and offset = aj*(k/k1) + min(aj, k%k1) —
    * exact integer arithmetic both engines replay — then
    * [[SimFns.KmeansIters]] GROUPED sweeps ([[kmAssignGrouped]]). Groups
    * smaller than their ka budget simply train fewer cells — consumers
    * key on j, never on a dense 0..k-1.
    */
  private def trainQuantizer(v: DataFrame,
      iters: Int = KmeansIters): Quantizer = {
    val n = v.count()
    val k = SimFns.kmeansK(n)
    val k1 = SimFns.kmeansK1(k)
    // STAGE A: anchors
    val sa = hashSample(v, n, SimFns.kmeansAnchorSampleM(n)).localCheckpoint(eager = false)
    var a = v.filter(col("vec_id") < k1)
      .select(col("vec_id").cast("int").as("j"), col("v").as("c"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to iters)
      a = kmUpdate(kmAssign(sa, a), a).localCheckpoint(eager = false)
    // STAGE B: per-anchor sub-centroids, all anchors trained in parallel
    val kd = k / k1
    val kr = k % k1
    val ka = lit(kd) + when(col("aj") < kr, 1).otherwise(0)
    val off = col("aj") * kd + least(col("aj"), lit(kr))
    val sb = hashSample(v, n, SimFns.kmeansSampleM(n))
    val wcap = Window.partitionBy(col("aj"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val capped = kmAssign(sb, a)
      .select(col("vec_id"), col("v"), col("j").as("aj"))
      .withColumn("grn", row_number().over(wcap))
      .filter(col("grn") <= lit(KmeansSampleMult) * ka)
      .localCheckpoint(eager = false) // shared by the init AND every grouped sweep
    val winit = Window.partitionBy(col("aj")).orderBy(col("vec_id"))
    var c = capped
      .withColumn("rn", row_number().over(winit))
      .filter(col("rn") <= ka)
      .select(col("aj"), (off + col("rn") - 1).cast("int").as("j"),
        col("v").as("c"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to iters)
      c = kmUpdateG(kmAssignGrouped(capped, c), c).localCheckpoint(eager = false)
    Quantizer(c, a, k)
  }

  /** Shared full-corpus model registry — ONE training per (session, sfDir).
    *
    * Round-14 bench audit: nine chain consumers (`embedding_kmeans`,
    * `semantic_dedup_pairs`, `contrastive_negatives`, `cluster_topic_terms`,
    * the `ann_ivfpq_*`/`embedding_pq_*` families, ...) each retrained the
    * SAME full-corpus coarse quantizer and PQ codebooks inside their own
    * query — 9 redundant Lloyd-loop runs per sweep. Production serves all
    * consumers from one trained model, so the engine does too: the FIRST
    * consumer trains (the deterministic [[trainQuantizer]]/[[pqCodebook]]
    * chains, unchanged) and persists model state + full-corpus assignments
    * through [[graft.sources.Warehouse]] replace-mode tables (the
    * [[ivfpqPersisted]] lifecycle, promoted to the default read path);
    * every later consumer reads the tables. Because training is
    * oracle-pinned deterministic, a consumer's output is bit-identical to
    * what retraining in-query produced — each DuckDB oracle still replays
    * the full training CTE-for-CTE and still hash-matches.
    *
    * [[graft.api.SharedModels]] keys each model by (sparkContext
    * identity, sfDir) and holds markers, NOT cached DataFrames:
    * `Bench`/`Verify` call [[graft.api.Checkpoints.releaseAll]] between
    * queries, which would invalidate any checkpointed frame held across
    * queries, while a persisted table survives. Each model has its own
    * slot, so the concurrent first trainers ([[ivfpqRanked]]'s
    * `Par.all`) build side by side. At 100 TB the tables ARE the design:
    * model state is k x Dims + PqM x PqK x PqSub doubles, the cell/code
    * tables are one narrow row per vector, and `ann_ivfpq_persisted`
    * attests the persist -> serve path end-to-end.
    *
    * [[ivfpqIncremental]] deliberately does NOT read these tables: its
    * model trains on the 90% "old" corpus — a different model entirely.
    * [[ivfpqPersisted]] DOES read them (round 21): its in-query training
    * was the identical deterministic chain over the identical full
    * corpus, so the shared tables hold the bit-same model state; the
    * lifecycle's own persist/serve steps are unchanged.
    */
  val SharedCentsTable = "ivf_centroids_full"
  val SharedAnchorsTable = "ivf_anchors_full"
  val SharedCodebooksTable = "pq_codebooks_full"
  val SharedCellsTable = "ivf_cells_full"
  val SharedCodesTable = "pq_codes_full"
  val SharedRepsTable = "ivf_cell_reps_full"

  /** The trained full-corpus coarse quantizer, table-backed (trains +
    * persists on first call per (session, sfDir)).
    */
  private def sharedQuantizer(s: SparkSession, d: String): Quantizer = {
    val (Seq(cents, anchors), k) = graft.api.SharedModels.tables(
        s, d, SharedCentsTable, SharedAnchorsTable) {
      val q = trainQuantizer(vecs(s, d).select(col("vec_id"), col("v")))
      (Seq(q.cents, q.anchors), q.k)
    }
    Quantizer(cents, anchors, k)
  }

  /** The trained full-corpus PQ codebooks (m, j, c), table-backed. */
  private def sharedCodebook(s: SparkSession, d: String): DataFrame =
    graft.api.SharedModels.table(s, d, SharedCodebooksTable)(
      pqCodebook(vecs(s, d).select(col("vec_id"), col("v"))
        .localCheckpoint(eager = false)))

  /** Full-corpus coarse assignment (vec_id, cell, dist), table-backed —
    * shared by every consumer that joins on the trained cell id.
    */
  private def sharedCells(s: SparkSession, d: String): DataFrame =
    graft.api.SharedModels.table(s, d, SharedCellsTable)(
      kmAssignIndexed(vecs(s, d).select(col("vec_id"), col("v")),
        sharedQuantizer(s, d))
        .select(col("vec_id"), col("j").as("cell"), col("dist")))

  /** Per-cell representative member (cell, rep_id) — argmin (dist,
    * vec_id) over [[sharedCells]], i.e. the member nearest its trained
    * centroid: the layer-0 entry table for [[graphBeam]]'s two-layer
    * search. k rows, built with ONE window pass over the assignment at
    * model-build time, then broadcast at serve time — the entry choice
    * never rescans the corpus.
    */
  private def sharedCellReps(s: SparkSession, d: String): DataFrame =
    graft.api.SharedModels.table(s, d, SharedRepsTable) {
      val wr = Window.partitionBy(col("cell"))
        .orderBy(col("dist"), col("vec_id"))
      sharedCells(s, d).withColumn("rn", row_number().over(wr))
        .filter(col("rn") === 1)
        .select(col("cell"), col("vec_id").as("rep_id"))
    }

  /** Full-corpus PQ code table (vec_id, m, code), table-backed. */
  private def sharedCodes(s: SparkSession, d: String): DataFrame =
    graft.api.SharedModels.table(s, d, SharedCodesTable)(
      pqAssign(pqSubVecs(vecs(s, d).select(col("vec_id"), col("v"))),
        sharedCodebook(s, d))
        .select(col("vec_id"), col("m"), col("j").as("code")))

  /** Two-level full-corpus assignment (the [[SimFns.KmeansKFloor]] scale
    * note's second half): each VECTOR argmins over the LIVE trained
    * anchors (those that own >= 1 sub-centroid — an anchor whose stage-B
    * group was empty trained no cells, so routing there would strand the
    * vector), then argmins within that anchor's OWN sub-centroid group —
    * the (aj, j) ownership is part of the trained model state
    * ([[trainQuantizer]]'s stage B), so no centroid->anchor re-derivation
    * pass is needed. Per-vector work is O(k1 + k/k1) = O(sqrt(k))
    * distances, and the broadcasts are k1 anchors + the k1-row grouped
    * centroid table — at n = 1e9 (k ~ 1.6e7) that is ~4000 anchor
    * vectors per executor instead of an 8 GB full-centroid array, with
    * the group join a shuffle join on anchor id if the group table ever
    * outgrows broadcast.
    * Returns (vec_id, v, j, dist) — [[kmAssign]]'s contract.
    */
  private def kmAssignIndexed(v: DataFrame, q: Quantizer): DataFrame = {
    val anchors = q.anchors
      .select(col("j").as("aj"), col("c").as("ac"),
        dot(col("c"), col("c")).as("acc"))
    // per-anchor centroid groups (k1 rows carrying all k centroids) and
    // the LIVE anchor array vectors route through
    val groups = q.cents
      .withColumn("cc", dot(col("c"), col("c")))
      .groupBy(col("aj"))
      .agg(array_sort(collect_list(struct(col("j"), col("c"), col("cc"))))
        .as("gs"))
      .localCheckpoint(eager = false) // reused by live-anchor array + join
    val live = broadcast(groups.select(col("aj"))
      .join(anchors, "aj")
      .agg(array_sort(collect_list(struct(col("aj"), col("ac"), col("acc"))))
        .as("la")))
    v.crossJoin(live)
      .withColumn("vv", dot(col("v"), col("v")))
      .withColumn("va",
        array_min(transform(col("la"), e =>
          struct(
            (col("vv") + e.getField("acc")
              - lit(2.0) * dot(col("v"), e.getField("ac"))).as("dist"),
            e.getField("aj").as("aj")))).getField("aj"))
      .join(broadcast(groups), col("va") === col("aj"))
      .withColumn("best",
        array_min(transform(col("gs"), e =>
          struct(
            (col("vv") + e.getField("cc")
              - lit(2.0) * dot(col("v"), e.getField("c"))).as("dist"),
            e.getField("j").as("j")))))
      .select(col("vec_id"), col("v"),
        col("best").getField("j").as("j"),
        col("best").getField("dist").as("dist"))
  }

  /** Trained-cell assignment (vec_id, cell) — the write-time partition key
    * for an IVF table layout: embeddings partitioned by cell make a probe
    * read ONE partition (WarehouseSpec pins the pruned scan).
    */
  def kmeansCells(s: SparkSession, d: String): DataFrame =
    sharedCells(s, d).select(col("vec_id"), col("cell"))

  val kmeans: GraftQuery = GraftQuery(
    "embedding_kmeans",
    s"IVF coarse-quantizer training: $KmeansIters Lloyd sweeps, " +
      s"k=max($KmeansKFloor, n/$TargetCellSize), per-cell size/inertia/norm",
    SimOracle.kmeansSql) { (s, d) =>
    val q = sharedQuantizer(s, d)
    sharedCells(s, d)
      .groupBy(col("cell").as("j"))
      .agg(
        count(lit(1)).as("n_assigned"),
        (sum(graft.api.Det.quantize(col("dist"), 9)) /
          lit(graft.api.Det.pow10(9))).as("inertia"))
      .join(q.cents.select(col("j"),
        sqrt(dot(col("c"), col("c"))).as("centroid_norm")), "j")
      .select(col("j").as("cluster"), col("n_assigned"), col("inertia"),
        col("centroid_norm"))
      .orderBy("cluster")
  }

  /** SemDeDup-style semantic dedup: candidate pairs are restricted to the
    * TRAINED k-means cell (vs [[nearDupPairs]]' data-independent LSH
    * buckets), then screened by cosine >= [[SimFns.SemDedupCosine]]. The
    * published SemDeDup recipe — cluster embeddings, compare only within a
    * cluster, drop high-similarity members — with the same 100 TB contract
    * as IVF: training moves k x Dims of model state per sweep, the pair
    * join is an equi-join on the learned cell id, and per-cell population
    * (~n/k, k grown with corpus) bounds the quadratic term. The cosine and
    * the trained assignment reuse the bit-parity recipes the kmeans and
    * near-dup oracles already pin.
    */
  val semanticDedup: GraftQuery = GraftQuery(
    "semantic_dedup_pairs",
    s"SemDeDup: intra-kmeans-cell cosine pairs >= ${SimFns.SemDedupCosine}, top-20",
    SimOracle.semanticDedupSql) { (s, d) =>
    val v = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val m = v.join(kmeansCells(s, d), "vec_id")
    val x = m.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("nrm").as("na"), col("cell").as("cell_a"))
    x.join(m.as("y"),
        col("cell_a") === col("y.cell") && col("vec_a") < col("y.vec_id"))
      .select(col("cell_a").as("cell"), col("vec_a"), col("y.vec_id").as("vec_b"),
        (dot(col("va"), col("y.v")) / (col("na") * col("y.nrm"))).as("cosine"))
      .filter(col("cosine") >= lit(SimFns.SemDedupCosine))
      .orderBy(desc("cosine"), col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** Prefix lengths for the matryoshka truncation diagnostic. */
  val TruncDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** Matryoshka-style dimension-truncation diagnostic: how much vector
    * energy (squared norm) the first-k prefix retains, for k = 8/16/32/64
    * — the number that decides whether truncated embeddings are safe for
    * coarse ANN stages (cosine under zero-padded truncation is exactly
    * sqrt of this fraction). One pass over the scan, no explode of the
    * vector column: per-vector ordered folds (bit-matching DuckDB's
    * list_reduce since 0.0 + x1 is exact), per-vector quantization to 1e-9,
    * then an exact LONG partial-agg — reduce keys are the 4 k values,
    * independent of corpus size.
    */
  val dimTruncation: GraftQuery = GraftQuery(
    "embedding_dim_truncation",
    s"matryoshka diagnostic: energy retained by ${TruncDims.mkString("/")}-dim prefixes",
    SimOracle.dimTruncationSql) { (s, d) => truncEnergies(s, d) }

  /** The per-k retained-energy frame (k, n_vecs, avg_energy, min_energy)
    * — shared by the [[dimTruncation]] diagnostic and
    * [[matryoshkaAdaptive]]'s data-derived dim selection.
    */
  private def truncEnergies(s: SparkSession, d: String): DataFrame = {
    val v = toDouble(col("embedding"))
    val ssqFull = aggregate(v, lit(0.0), (acc, x) => acc + x * x)
    val perVec = Tables.embeddings(s, d).select(
      col("vec_id") +: TruncDims.map { k =>
        val pref = aggregate(slice(v, lit(1), lit(k)), lit(0.0),
          (acc, x) => acc + x * x)
        floor(pref / ssqFull * lit(1e9) + lit(0.5)).as(s"e$k")
      }: _*)
    perVec
      .select(explode(map(
        TruncDims.flatMap(k => Seq(lit(k), col(s"e$k"))): _*)).as(Seq("k", "eq")))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_vecs"),
        ((sum(col("eq")) / lit(1e9)) / count(lit(1))).as("avg_energy"),
        (min(col("eq")) / lit(1e9)).as("min_energy"))
      .orderBy("k")
  }

  /** Product quantization — the canonical billion-scale ANN compression
    * (FAISS's IVFPQ stage 2): split each vector into [[SimFns.PqM]]
    * sub-vectors, train an independent [[SimFns.PqK]]-codeword k-means
    * codebook per subspace (the [[trainedCentroids]] loop on sliced
    * vectors — same determinism recipe), and store each vector as PqM
    * small codes. A query never touches the codes' vectors: it builds a
    * (PqM x PqK)-entry lookup table of partial squared distances to every
    * codeword, and a vector's approximate distance is the SUM of PqM
    * table lookups — "asymmetric distance computation" (ADC).
    *
    * Scale shape: codebooks are PqM x PqK x PqSub doubles (model state,
    * broadcast); the LUT is queries x PqM x PqK rows (broadcast); the
    * corpus-side scan touches only the CODES table — PqM small ints per
    * vector instead of Dims floats, the 100 TB point of PQ: the code
    * table for a billion vectors fits where the raw vectors never would,
    * and the ADC join + partial-agg sum is one linear pass. Each LUT
    * partial is quantized to a LONG so the PqM-term sum is exact and the
    * ranking is partition-invariant on both engines.
    */
  private def pqSlice(v: Column, m: Column): Column =
    slice(v, m * lit(PqSub) + lit(1), lit(PqSub))

  /** (vec_id, m, v): every vector exploded into its PqM sub-vectors — a
    * NARROW map over the (checkpointed) base, so re-deriving it per sweep
    * costs no shuffle.
    */
  private def pqSubVecs(base: DataFrame): DataFrame =
    base.select(col("vec_id"),
      posexplode(array((0 until PqM).map(m => pqSlice(col("v"), lit(m))): _*))
        .as(Seq("m", "v")))

  /** Assignment across ALL subspaces in one pass: the codebook frame
    * (m, j, c) collapses to PqM broadcast rows of sorted (j, c) structs,
    * and each sub-vector row array_mins its own subspace's codewords —
    * the [[kmAssign]] recipe keyed by m. One corpus-shaped scan instead
    * of PqM.
    */
  private def pqAssign(sv: DataFrame, cb: DataFrame): DataFrame = {
    // codeword self-dot precomputed per CODEWORD (the kmAssign recipe)
    val cs = broadcast(cb.groupBy(col("m"))
      .agg(array_sort(collect_list(struct(col("j"), col("c"),
        dot(col("c"), col("c")).as("cc")))).as("cs")))
    sv.join(cs, "m")
      .withColumn("vv", dot(col("v"), col("v")))
      .withColumn("best",
        array_min(transform(col("cs"), e =>
          struct(
            (col("vv") + e.getField("cc")
              - lit(2.0) * dot(col("v"), e.getField("c"))).as("dist"),
            e.getField("j").as("j")))))
      .select(col("vec_id"), col("m"), col("v"),
        col("best").getField("j").as("j"),
        col("best").getField("dist").as("dist"))
  }

  /** Lloyd update across all subspaces: one (m, j, pos)-keyed quantized-
    * mean shuffle (PqM x PqK x PqSub = 512 reduce keys) — the [[kmUpdate]]
    * recipe with m riding the key. Empty cells keep their codeword.
    */
  private def pqUpdate(assigned: DataFrame, prev: DataFrame): DataFrame = {
    // NOT the kmMeans collect_list fold: PQ sweeps run over the FULL
    // corpus's sub-vectors (PqM rows per vector), so a per-(m, j)
    // collect_list would buffer ~n*PqM/(PqM*PqK) vectors in ONE
    // aggregation state — corpus-sized reducer memory. The exploded
    // per-(m, j, pos) quantized-LONG sum partial-aggregates map-side and
    // shuffles a CONSTANT PqM x PqK x PqSub = 512 reduce keys whatever
    // the corpus size; kmMeans can afford the fused fold only because
    // its training inputs are sample/cap-bounded.
    val upd = assigned
      .select(col("m"), col("j"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("m"), col("j"), col("pos"))
      .agg((sum(graft.api.Det.quantize(col("x"), 9)) /
        (lit(graft.api.Det.pow10(9)) * count(lit(1)))).as("mu"))
      .groupBy(col("m"), col("j"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mu")))),
        s => s.getField("mu")).as("cn"))
    prev.as("p").join(upd.as("u"),
        col("p.m") === col("u.m") && col("p.j") === col("u.j"), "left")
      .select(col("p.m").as("m"), col("p.j").as("j"),
        coalesce(col("u.cn"), col("p.c")).as("c"))
  }

  /** All PqM codebooks trained together: init = the PqK lowest vec_ids'
    * sub-vectors per subspace, then PqIters fused sweeps. Math identical
    * to training each subspace alone (subspaces never mix in the keyed
    * aggregations) — the oracle stays per-subspace — but each sweep runs
    * ONE pass over the corpus instead of PqM, and the loop checkpoints
    * PqIters frames instead of PqM x PqIters.
    */
  private def pqCodebook(base: DataFrame): DataFrame = {
    val sv = pqSubVecs(base)
    var cb = pqSubVecs(base.filter(col("vec_id") < PqK))
      .select(col("m"), col("vec_id").cast("int").as("j"), col("v").as("c"))
      .localCheckpoint()
    for (_ <- 1 to PqIters)
      cb = pqUpdate(pqAssign(sv, cb), cb).localCheckpoint()
    cb
  }

  /** ADC top-10 per query over the PQ codes (qid, rn, vec_id, adc_dist). */
  private def pqTopFrame(s: SparkSession, d: String, base: DataFrame): DataFrame = {
    val cbAll = sharedCodebook(s, d)
    val codes = sharedCodes(s, d)
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val lut = q.crossJoin(broadcast(cbAll))
      .withColumn("qs", pqSlice(col("qv"), col("m")))
      .select(col("qid"), col("m"), col("j"),
        graft.api.Det.quantize(
          dot(col("qs"), col("qs")) + dot(col("c"), col("c"))
            - lit(2.0) * dot(col("qs"), col("c")), 9).as("pd"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc_dist"), col("vec_id"))
    codes.as("x")
      .join(broadcast(lut).as("l"),
        col("x.m") === col("l.m") && col("x.code") === col("l.j")
          && col("x.vec_id") =!= col("l.qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg((sum(col("pd")) / lit(graft.api.Det.pow10(9))).as("adc_dist"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("vec_id"), col("adc_dist"))
  }

  val pqTopk: GraftQuery = GraftQuery(
    "embedding_pq_topk",
    s"PQ ANN: ${PqM}x$PqK-codeword product codebooks ($PqIters Lloyd sweeps each), " +
      "ADC top-10 per query",
    SimOracle.pqTopkSql) { (s, d) =>
    // base feeds only the 1% query slice now (codes/codebooks come from
    // the shared tables) — a full-corpus checkpoint would materialize
    // 99% never-read rows
    val base = vecs(s, d).select(col("vec_id"), col("v"))
    pqTopFrame(s, d, base).orderBy("qid", "rn")
  }

  /** PQ recall@10 vs the exact squared-L2 top-10 — the graded-accuracy
    * artifact for the lossy index, the [[lshRecall]]/[[ivfRecall]]
    * convention applied to ADC (which approximates L2, so the truth set
    * here is L2, not cosine).
    */
  val pqRecall: GraftQuery = GraftQuery(
    "embedding_pq_recall",
    "PQ ADC recall@10 against the exact squared-L2 top-10 per query",
    SimOracle.pqRecallSql) { (s, d) =>
    val base = vecs(s, d).select(col("vec_id"), col("v")).localCheckpoint()
    val qb = broadcast(base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("l2"), col("vec_id"))
    val exact = qb.join(base, col("vec_id") =!= col("qid"))
      .withColumn("l2",
        dot(col("qv"), col("qv")) + dot(col("v"), col("v"))
          - lit(2.0) * dot(col("qv"), col("v")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"))
    val approx = pqTopFrame(s, d, base)
      .select(col("qid").as("aq"), col("vec_id").as("av"))
    exact.join(approx,
        col("qid") === col("aq") && col("vec_id") === col("av"), "left")
      .groupBy(col("qid"))
      .agg(count(col("av")).as("n_hits"),
        (count(col("av")) / lit(10.0)).as("recall"))
      .orderBy("qid")
  }

  /** Coarse cells probed per query by [[ivfpqTopk]]. */
  val IvfPqNprobe = 2

  /** IVF+PQ — the two lossy index stages COMPOSED, which is how FAISS
    * actually deploys at billion scale: the trained coarse quantizer
    * ([[kmeans]]) partitions the corpus into cells, each vector is stored
    * only as its [[SimFns.PqM]] PQ codes, and a query (a) picks its
    * [[IvfPqNprobe]] nearest trained cells, then (b) ADC-ranks ONLY the
    * codes inside those cells. Neither stage alone gives the production
    * shape: IVF bounds the scan (nprobe/k of the corpus), PQ bounds the
    * bytes per scanned vector — together a billion-vector index reads
    * nprobe/k of a code table that is 32x smaller than the raw floats.
    *
    * Scale shape: coarse training + PQ training move only model state
    * (the [[kmeans]]/[[pqTopk]] contracts); the candidate restriction is
    * an equi-join on the learned cell id BEFORE any code is looked up, so
    * the ADC join's left side is the probed sliver, not the corpus. At
    * write time the code table is partitioned by cell and the probe reads
    * nprobe partitions (the [[kmeansCells]] layout note).
    *
    * Determinism: both trainings are the oracle-pinned chains; the probe
    * ranking sorts exact (dist, j) structs; LUT partials are 1e-9 LONGs
    * so the PqM-term ADC sums are exact.
    */
  /** The shared IVF+PQ pipeline: train both quantizers (concurrently),
    * restrict candidates to the probed cells, ADC-rank within — returns
    * (qid, rn, vec_id, adc_dist) with rn the per-query ADC rank, UNCUT so
    * [[ivfpqTopk]] takes the top-10 and [[ivfpqRerank]] a wider slate.
    */
  /** Query-side probe: each query's [[IvfPqNprobe]] nearest trained cells
    * (qid, cell) — the trained centroids collapsed into one broadcast
    * struct array, scored map-side. Shared by the in-query pipeline and
    * the persisted-serve path, so both probe with the identical doubles.
    */
  private def ivfpqProbe(cents: DataFrame, q: DataFrame): DataFrame = {
    val cs = broadcast(cents.groupBy()
      .agg(array_sort(collect_list(struct(col("j"), col("c")))).as("cs")))
    q.crossJoin(cs)
      .withColumn("qq", dot(col("qv"), col("qv")))
      .withColumn("scored", array_sort(transform(col("cs"), e =>
        struct(
          (col("qq") + dot(e.getField("c"), e.getField("c"))
            - lit(2.0) * dot(col("qv"), e.getField("c"))).as("dist"),
          e.getField("j").as("j")))))
      .select(col("qid"),
        explode(slice(col("scored"), 1, IvfPqNprobe)).as("pc"))
      .select(col("qid"), col("pc").getField("j").as("cell"))
  }

  /** Query-side ADC lookup table (qid, m, j, pd): per-codeword partial
    * squared distances quantized to 1e-9 LONGs so the PqM-term sums are
    * exact. Shared by the in-query and persisted-serve paths.
    */
  private def ivfpqLut(cbAll: DataFrame, q: DataFrame): DataFrame =
    q.crossJoin(broadcast(cbAll))
      .withColumn("qs", pqSlice(col("qv"), col("m")))
      .select(col("qid"), col("m"), col("j"),
        graft.api.Det.quantize(
          dot(col("qs"), col("qs")) + dot(col("c"), col("c"))
            - lit(2.0) * dot(col("qs"), col("c")), 9).as("pd"))

  /** ADC ranking of candidate codes (cq, vec_id, cm, code) against the
    * broadcast LUT: exact LONG sums, per-query rank with vec_id ties —
    * returns (qid, rn, vec_id, adc_dist), uncut. Shared tail of the
    * in-query and persisted-serve pipelines.
    */
  private def ivfpqAdcRank(candCodes: DataFrame, lut: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("adc_dist"), col("vec_id"))
    candCodes.join(broadcast(lut),
        col("cq") === col("qid") && col("cm") === col("m")
          && col("code") === col("j"))
      .groupBy(col("qid"), col("vec_id"))
      .agg((sum(col("pd")) / lit(graft.api.Det.pow10(9))).as("adc_dist"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .select(col("qid"), col("rn"), col("vec_id"), col("adc_dist"))
  }

  private def ivfpqRanked(s: SparkSession, d: String, base: DataFrame): DataFrame = {
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // the coarse quantizer and the PQ codebooks are trained independently
    // (different objectives over the same corpus), so they are fetched
    // as concurrent sub-jobs: when this call is the JVM's first consumer
    // of the SharedModels quantizer and codebook, both driver-iterated
    // Lloyd loops train side by side and their per-sweep jobs interleave
    // (same-window git-stash A/B at sf0.1: 2.34 -> 1.46 s); otherwise
    // both are reads of the persisted shared tables
    val ((vcell, qc), cbAll) = Par.all({
      val quant = sharedQuantizer(s, d)
      (kmeansCells(s, d), ivfpqProbe(quant.cents, q))
    }, sharedCodebook(s, d))
    val codes = sharedCodes(s, d)
    val cand = vcell.join(qc, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid").as("cq"), col("vec_id").as("cv"))
    val candCodes = cand.join(codes, col("cv") === col("vec_id"))
      .select(col("cq"), col("vec_id"), col("m").as("cm"), col("code"))
    ivfpqAdcRank(candCodes, ivfpqLut(cbAll, q))
  }

  val ivfpqTopk: GraftQuery = GraftQuery(
    "ann_ivfpq_topk",
    s"IVF+PQ ANN: probe $IvfPqNprobe trained coarse cells, ADC-rank the PQ codes within",
    SimOracle.ivfpqTopkSql) { (s, d) =>
    // base feeds only the 1% query slice (the shared tables carry the
    // model/codes); no full-corpus checkpoint
    val base = vecs(s, d).select(col("vec_id"), col("v"))
    ivfpqRanked(s, d, base)
      .filter(col("rn") <= 10)
      .orderBy("qid", "rn")
  }

  /** ADC candidates carried into [[ivfpqRerank]]'s exact refine stage. */
  val AnnRerankC = 30

  /** IVF+PQ with exact re-ranking — the deployed two-stage retrieval
    * shape (FAISS's IVFPQ + refine): the lossy index nominates a slate of
    * [[AnnRerankC]] ADC-ranked candidates per query, then the TRUE
    * squared-L2 distance is computed for that slate only and the top-10
    * re-ranked on it. This recovers most of the recall PQ gives up while
    * touching raw floats for only rerankC/corpus of the data: at billion
    * scale stage 1 reads the nprobe cells of a 32x-compressed code table
    * and stage 2 fetches rerankC full vectors per query by id — a
    * broadcast-sized equi-join against the vector store, never a scan.
    *
    * Determinism: the slate is the ADC ranking's exact LONG sums; the
    * refine distance uses the same qq + vv - 2*dot expression shape as
    * [[pqRecall]]'s truth side, so the doubles are bit-identical on both
    * engines; ties break on vec_id.
    */
  val ivfpqRerank: GraftQuery = GraftQuery(
    "ann_ivfpq_rerank",
    s"IVF+PQ + exact refine: ADC top-$AnnRerankC slate per query, true-L2 re-rank to top-10",
    SimOracle.ivfpqRerankSql) { (s, d) =>
    val base = vecs(s, d).select(col("vec_id"), col("v")).localCheckpoint()
    val slate = ivfpqRanked(s, d, base)
      .filter(col("rn") <= AnnRerankC)
      .select(col("qid"), col("vec_id"), col("adc_dist"))
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid2"), col("v").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("l2_dist"), col("vec_id"))
    slate
      .join(base.withColumnRenamed("vec_id", "cv"), col("cv") === col("vec_id"))
      .join(broadcast(q), col("qid2") === col("qid"))
      .withColumn("l2_dist",
        dot(col("qv"), col("qv")) + dot(col("v"), col("v"))
          - lit(2.0) * dot(col("qv"), col("v")))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("vec_id"), col("l2_dist"),
        col("adc_dist"))
      .orderBy("qid", "rn")
  }

  /** Persisted-index table names ([[graft.sources.Warehouse.Schema]]). */
  val IvfCentroidsTable = "ivf_centroids"
  val PqCodebooksTable = "ivf_pq_codebooks"
  val IvfCodesTable = "ivf_pq_codes"

  /** The persisted-MODEL lifecycle — persist, serve — the production
    * shape every in-query training pipeline here stands in for. The
    * model comes from [[graft.api.SharedModels]]: this query trains the
    * coarse quantizer and the PQ codebooks only when it is the JVM's
    * first consumer of them, and otherwise reads the shared tables. The
    * coarse centroids and PQ codebooks then go through
    * [[graft.sources.Warehouse.replaceTable]] (replace-mode model
    * deployment, the [[graft.streaming.StreamSinks]] idempotent-write
    * discipline), the code table goes through `replacePartitioned` BY
    * CELL — the IVF layout where a probe's scan reads nprobe partition
    * directories and skips the rest — and the SERVE stage reads ONLY
    * those persisted tables plus the incoming queries. Output is
    * bit-identical to [[ivfpqTopk]] (same oracle grades both): the
    * model-state analog of `portfolio_incremental_merge`'s
    * merge-vs-recompute attestation, pinned additionally by SimSpec's
    * frame-equality test.
    *
    * Scale shape: persist moves model state (k x Dims centroids,
    * PqM x PqK codewords) plus one code-table write partitioned by cell
    * (PqM small ints per vector); serve never rebuilds anything — it
    * broadcasts the persisted centroids/codebooks against the query set
    * and equi-joins the probed cells' code partitions.
    */
  val ivfpqPersisted: GraftQuery = GraftQuery(
    "ann_ivfpq_persisted",
    "IVF+PQ lifecycle: shared model (trained by the JVM's first consumer) -> persist centroids/codebooks/cell-partitioned codes -> serve top-10 from the persisted index",
    SimOracle.ivfpqTopkSql) { (s, d) =>
    import graft.sources.Warehouse
    // MODEL — the full-corpus model comes from the SHARED
    // registry ([[sharedQuantizer]]/[[sharedCodebook]]/[[sharedCodes]]):
    // the shared trainers run the EXACT [[trainQuantizer]]/[[pqCodebook]]
    // chains this query used to run inline on the same input, and
    // training is oracle-pinned deterministic, so the model state (and
    // hence the serve output) is bit-identical — retraining it here was
    // one redundant Lloyd-loop run per sweep (guide §2.4 / the r20
    // verdict's SharedModels item). The lifecycle still PERSISTS its own
    // serving tables below; only the redundant training is gone.
    val quant = sharedQuantizer(s, d)
    val cbAll = sharedCodebook(s, d)
    val vcell = kmeansCells(s, d)
    val codes = sharedCodes(s, d)
    // PERSIST — model state + cell-partitioned codes through the
    // warehouse; three independent tables, three concurrent write jobs
    // (guide §2.6)
    Warehouse.ensureSchema(s)
    Par.all(
      Warehouse.replaceTable(quant.cents, IvfCentroidsTable),
      Warehouse.replaceTable(cbAll, PqCodebooksTable),
      Warehouse.replacePartitioned(codes.join(vcell, "vec_id"),
        IvfCodesTable, "cell"))
    // SERVE — reads ONLY the persisted tables + the incoming query set
    def persisted(t: String) = s.table(s"${Warehouse.Schema}.$t")
    ivfpqServe(s, d, persisted(IvfCentroidsTable), persisted(PqCodebooksTable),
      persisted(IvfCodesTable))
  }

  /** Top-10 per query served from a cell-partitioned code table
    * (vec_id, m, code, cell): the query slice probes the centroids and
    * only the probed cells' codes are ADC-ranked. The read path of the
    * persisted and deletion lifecycles.
    */
  private def ivfpqServe(s: SparkSession, d: String, cents: DataFrame,
      cb: DataFrame, codesByCell: DataFrame): DataFrame = {
    val q = vecs(s, d).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val candCodes = codesByCell.join(ivfpqProbe(cents, q), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid").as("cq"), col("vec_id"), col("m").as("cm"),
        col("code"))
    ivfpqAdcRank(candCodes, ivfpqLut(cb, q))
      .filter(col("rn") <= 10)
      .orderBy("qid", "rn")
  }

  /** Persisted-anchor table for the incremental index lifecycle. */
  val IvfAnchorsTable = "ivf_anchors"

  /** INCREMENTAL index maintenance — the serve story's other half
    * ([[ivfpqPersisted]] trains+deploys; this maintains): a content-hash
    * 10% "new vectors" batch (hash60(vec_id) % 10 = 0, the doc_splits
    * selector — batch membership is a pure function of content, so
    * re-runs and engines agree) is assigned to the EXISTING persisted
    * cells and codebooks — NO retrain — and appended to the
    * cell-partitioned code table ([[graft.sources.Warehouse.appendTable]]:
    * only the touched partitions grow). The output is the operator's
    * retrain dashboard: per-cell old/new counts (growth) plus two drift
    * statistics — the mean coarse residual (vector -> assigned-centroid
    * squared distance) and the mean PQ reconstruction error (sum of
    * per-subspace codeword distances), old vs new. A new batch that
    * codes materially worse under the frozen model is the signal to
    * retrain ([[graft.dedup.DedupQueries]]' incremental-screen asymmetry
    * applied to the vector index).
    *
    * Scale shape: training + old-code build touch the old corpus once
    * (the [[ivfpqPersisted]] contract); the batch pass touches ONLY the
    * batch (assignment O(|batch| * sqrt(k)) via the persisted two-level
    * anchors, coding O(|batch| * PqM * PqK)), and the append moves
    * |batch| code rows — nothing proportional to the corpus moves at
    * maintenance time. Determinism: both means are quantized-LONG sums
    * divided once (the kmeans-inertia recipe); the oracle replays the
    * split, the frozen-model assignments, and the per-cell aggregation
    * CTE-for-CTE. SimSpec pins that the appended table serves exactly
    * like a full rebuild at the unchanged model.
    */
  val ivfpqIncremental: GraftQuery = GraftQuery(
    "ann_ivfpq_incremental",
    "IVF+PQ incremental maintenance: 10% hash batch -> existing persisted cells/codebooks (no retrain), append codes, per-cell growth + quantization drift",
    SimOracle.ivfpqIncrementalSql) { (s, d) =>
    import graft.sources.Warehouse
    import graft.api.Det
    val base = vecs(s, d).select(col("vec_id"), col("v")).localCheckpoint()
    val hb = call_function("hash60", col("vec_id").cast("string")) % 10
    val old = base.filter(hb =!= 0)
    val nb = base.filter(hb === 0)
    // TRAIN on the OLD corpus only + PERSIST model and old code table
    // (the ivfpqPersisted recipe, concurrent Lloyd loops included)
    val (quant, cbAll) = Par.all(trainQuantizer(old), pqCodebook(old))
    val oldCells = kmAssignIndexed(old, quant).localCheckpoint(eager = false)
    val oldCodes = pqAssign(pqSubVecs(old), cbAll).localCheckpoint(eager = false)
    // the four persist steps write four INDEPENDENT tables — run them as
    // concurrent jobs (guide §2.6 overlap independent jobs) so the write
    // tails back-fill each other instead of serializing
    Warehouse.ensureSchema(s)
    Par.all(
      Warehouse.replaceTable(quant.cents, IvfCentroidsTable),
      Warehouse.replaceTable(quant.anchors, IvfAnchorsTable),
      Warehouse.replaceTable(cbAll, PqCodebooksTable),
      Warehouse.replacePartitioned(
        oldCodes.select(col("vec_id"), col("m"), col("j").as("code"))
          .join(oldCells.select(col("vec_id"), col("j").as("cell")),
            "vec_id"),
        IvfCodesTable, "cell"))
    // MAINTAIN: the batch reads ONLY the persisted model — frozen cells,
    // frozen codebooks — then appends its codes
    val centsP = s.table(s"${Warehouse.Schema}.$IvfCentroidsTable")
    val anchorsP = s.table(s"${Warehouse.Schema}.$IvfAnchorsTable")
    val cbP = s.table(s"${Warehouse.Schema}.$PqCodebooksTable")
    val qP = Quantizer(centsP, anchorsP, quant.k)
    val newCells = kmAssignIndexed(nb, qP).localCheckpoint(eager = false)
    val newCodes = pqAssign(pqSubVecs(nb), cbP).localCheckpoint(eager = false)
    Warehouse.appendTable(
      newCodes.select(col("vec_id"), col("m"), col("j").as("code"))
        .join(newCells.select(col("vec_id"), col("j").as("cell")), "vec_id"),
      IvfCodesTable, Some("cell"))
    // REPORT: per-cell growth + drift, quantized-LONG means
    def perCell(cells: DataFrame, codes: DataFrame, sfx: String): DataFrame = {
      val pqErr = codes.groupBy(col("vec_id"))
        .agg(sum(Det.quantize(col("dist"), 9)).as("pql"))
      cells.join(pqErr, "vec_id")
        .groupBy(col("j"))
        .agg(
          count(lit(1)).as(s"n_$sfx"),
          (sum(Det.quantize(col("dist"), 9)) /
            (lit(Det.pow10(9)) * count(lit(1)))).as(s"mean_res_$sfx"),
          (sum(col("pql")) /
            (lit(Det.pow10(9)) * count(lit(1)))).as(s"mean_pq_err_$sfx"))
    }
    perCell(oldCells, oldCodes, "old").as("o")
      .join(perCell(newCells, newCodes, "new").as("nw"),
        Seq("j"), "full_outer")
      .select(col("j").as("cell"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        col("mean_res_old"), col("mean_res_new"),
        col("mean_pq_err_old"), col("mean_pq_err_new"),
        (col("mean_pq_err_new") - col("mean_pq_err_old")).as("pq_err_drift"))
      .orderBy("cell")
  }

  /** Content-hash residue selecting [[ivfpqDeleted]]'s doomed vectors
    * (hash60(vec_id) % 10 — the doc_splits selector, disjoint by value
    * from [[ivfpqIncremental]]'s batch residue 0 so the two lifecycles
    * stay independently interpretable).
    */
  val DeleteResidue = 3

  /** Serving code table for the deletion lifecycle. */
  val IvfDelCodesTable = "ivf_pq_codes_del"

  /** Index DELETION lifecycle — the maintenance verb [[ivfpqIncremental]]
    * leaves open (append covers growth; production also needs REMOVAL —
    * the GDPR/right-to-be-forgotten story every vector store ships): a
    * content-hash 10% slice of vectors is deleted from the serving code
    * table via [[graft.sources.Warehouse.mergeTable]]'s delete path (an
    * empty delta + explicit key rows; keys carry the cell partition, so
    * only partitions holding a doomed row rewrite), and the query then
    * SERVES top-10 from the shrunk table — a deleted vector can never
    * surface because its codes are physically gone, not filtered at
    * query time (tombstone filters leak through every new query path;
    * removal doesn't).
    *
    * The serving table deploys from the SHARED full-corpus model
    * (centroids/codebooks/codes — the [[ivfpqTopk]] read path), so the
    * model is NOT retrained on the survivors: deletion is a data-plane
    * operation, the model ages until the next scheduled retrain — the
    * [[ivfpqIncremental]] drift-dashboard decision, from the other
    * direction. Scale shape: deploy moves one narrow code row per
    * vector into cell partitions; the delete rewrites only touched cell
    * partitions (SimSpec pins untouched-partition files byte-identical
    * for a targeted delete); serve reads nprobe partitions per query.
    * Determinism: the slice is a pure content function; serve is the
    * exact [[ivfpqTopk]] arithmetic over fewer candidates, so the
    * oracle is the ivfpq chain with the doomed ids excluded before
    * ranking.
    */
  val ivfpqDeleted: GraftQuery = GraftQuery(
    "ann_ivfpq_deleted",
    s"IVF+PQ deletion lifecycle: 10% content-hash slice merge-deleted from the cell-partitioned serving table, top-10 served from the shrunk index",
    SimOracle.ivfpqDeletedSql) { (s, d) =>
    import graft.sources.Warehouse
    // DEPLOY the serving table from the shared full-corpus model
    val quant = sharedQuantizer(s, d)
    val cb = sharedCodebook(s, d)
    Warehouse.replacePartitioned(
      sharedCodes(s, d).join(kmeansCells(s, d), "vec_id")
        .select(col("vec_id"), col("m"), col("code"), col("cell")),
      IvfDelCodesTable, "cell")
    // DELETE the slice: explicit key rows, empty delta (a pure purge)
    val tbl = s.table(s"${Warehouse.Schema}.$IvfDelCodesTable")
    val doomed = tbl
      .filter(call_function("hash60", col("vec_id").cast("string")) % 10
        === DeleteResidue)
      .select(col("cell"), col("vec_id"), col("m"))
    Warehouse.mergeTable(tbl.filter(lit(false)), IvfDelCodesTable,
      Seq("cell", "vec_id", "m"), deletes = Some(doomed))
    // SERVE from the shrunk table only (the ivfpqPersisted read path)
    ivfpqServe(s, d, quant.cents, cb,
      s.table(s"${Warehouse.Schema}.$IvfDelCodesTable"))
  }

  /** Frozen-model assignment + coding of ANY (vec_id, v double[]) frame
    * against a deployed model (cents (aj, j, c) / anchors (j, c) /
    * codebooks (m, j, c)) — (vec_id, m, code, cell), one row per
    * subspace. STATELESS by construction: the two-level cell assignment
    * and the codeword argmin are broadcast-static joins + narrow maps
    * with no window, aggregate, or self-join over the input — which is
    * what lets the SAME code serve a STREAMING ingest
    * ([[graft.streaming.VecStreams.ingestCodes]]): each arriving vector
    * is coded row-locally against the broadcast model, exactly as the
    * batch path codes it. The cell rides through the sub-vector explode
    * instead of being joined back on vec_id — a join of two
    * stream-derived frames would be a stateful stream-stream join.
    */
  private[graft] def frozenModelCodes(v: DataFrame, cents: DataFrame,
      anchors: DataFrame, cb: DataFrame): DataFrame = {
    val withCell = kmAssignIndexed(v, Quantizer(cents, anchors, 0))
      .select(col("vec_id"), col("v"), col("j").as("cell"))
    val cs = broadcast(cb.groupBy(col("m"))
      .agg(array_sort(collect_list(struct(col("j"), col("c"),
        dot(col("c"), col("c")).as("cc")))).as("cs")))
    withCell
      .select(col("vec_id"), col("cell"),
        posexplode(array((0 until PqM).map(m => pqSlice(col("v"), lit(m))): _*))
          .as(Seq("m", "v")))
      .join(cs, "m")
      .withColumn("vv", dot(col("v"), col("v")))
      .withColumn("best",
        array_min(transform(col("cs"), e =>
          struct(
            (col("vv") + e.getField("cc")
              - lit(2.0) * dot(col("v"), e.getField("c"))).as("dist"),
            e.getField("j").as("j")))))
      .select(col("vec_id"), col("m"),
        col("best").getField("j").as("code"), col("cell"))
  }

  /** Full-corpus code rebuild at the PERSISTED (frozen) model — the
    * comparison side of SimSpec's append-vs-rebuild attestation: reads
    * the persisted centroids/anchors/codebooks and recomputes every
    * vector's (cell, codes) in one pass through [[frozenModelCodes]].
    */
  private[graft] def ivfpqRebuildCodes(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Warehouse
    frozenModelCodes(vecs(s, d).select(col("vec_id"), col("v")),
      s.table(s"${Warehouse.Schema}.$IvfCentroidsTable"),
      s.table(s"${Warehouse.Schema}.$IvfAnchorsTable"),
      s.table(s"${Warehouse.Schema}.$PqCodebooksTable"))
  }

  /** Prefix dimensionality for the matryoshka two-stage retrieval. */
  val MatryoshkaDim = 16

  /** Matryoshka two-stage retrieval — the SERVING pattern behind
    * [[dimTruncation]]'s diagnostic (MRL-style): stage 1 ranks by cosine
    * over the [[MatryoshkaDim]]-dim PREFIX index only — at scale a
    * stored index Dims/[[MatryoshkaDim]] = 4x smaller than the full
    * vectors, so the scan reads 4x fewer bytes — and nominates an
    * [[AnnRerankC]]-candidate slate; stage 2 fetches the slate's FULL
    * vectors BY ID (an equi-join against the vector store, never a
    * scan — the [[ivfpqRerank]] refine contract) and re-ranks the exact
    * full-dim cosine to top-10. The prefix cosine rides along so the
    * two-stage gap is inspectable per row; [[matryoshkaRecall]] grades
    * the slate against the full-dim truth.
    *
    * Determinism: both cosines are ordered folds (prefix = the same
    * VecDot over the sliced array as the oracle's range(1,17) fold);
    * ties break on vec_id at both stages; queries with a zero prefix
    * norm are excluded identically on both engines.
    */
  val matryoshkaRerank: GraftQuery = GraftQuery(
    "ann_matryoshka_rerank",
    s"matryoshka retrieval: $MatryoshkaDim-dim prefix cosine top-$AnnRerankC slate, full-dim exact re-rank to top-10",
    SimOracle.matryoshkaRerankSql) { (s, d) =>
    matryoshkaFrame(s, d).orderBy("qid", "rn")
  }

  /** Shared matryoshka pipeline (qid, rn, vec_id, cosine_full,
    * cosine_prefix).
    */
  private def matryoshkaFrame(s: SparkSession, d: String,
      dim: Int = MatryoshkaDim): DataFrame = {
    val v = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    // the dim-long prefix INDEX: all a stage-1 scan ever touches
    val pv = v.select(col("vec_id"), slice(col("v"), 1, dim).as("p"))
      .withColumn("pnrm", sqrt(dot(col("p"), col("p"))))
      .filter(col("pnrm") > 0)
    val qf = v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"),
        slice(col("v"), 1, dim).as("qp"), col("v").as("qv"),
        col("nrm").as("qnrm"))
      .withColumn("qpnrm", sqrt(dot(col("qp"), col("qp"))))
      .filter(col("qpnrm") > 0)
    val wp = Window.partitionBy(col("qid"))
      .orderBy(desc("cosine_prefix"), col("vec_id"))
    val slate = broadcast(qf).join(pv, col("vec_id") =!= col("qid"))
      .withColumn("cosine_prefix",
        dot(col("qp"), col("p")) / (col("qpnrm") * col("pnrm")))
      .withColumn("rp", row_number().over(wp))
      .filter(col("rp") <= AnnRerankC)
      .select(col("qid"), col("vec_id"), col("cosine_prefix"))
    val wf = Window.partitionBy(col("qid"))
      .orderBy(desc("cosine_full"), col("vec_id"))
    slate
      .join(v.select(col("vec_id").as("cv"), col("v"), col("nrm")),
        col("cv") === col("vec_id"))
      .join(broadcast(qf.select(col("qid").as("q2"), col("qv"), col("qnrm"))),
        col("q2") === col("qid"))
      .withColumn("cosine_full",
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rn", row_number().over(wf).cast("int"))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("vec_id"), col("cosine_full"),
        col("cosine_prefix"))
  }

  /** Recall@10 of the matryoshka two-stage pipeline vs the exact
    * full-dim top-10 — the [[lshRecall]]/[[pqRecall]] grading convention:
    * the number that tells an index operator whether the 4x-smaller
    * prefix index plus refine recovers what full-dim brute force finds
    * (the quantitative license [[dimTruncation]]'s energy fractions only
    * suggest).
    */
  val matryoshkaRecall: GraftQuery = GraftQuery(
    "ann_matryoshka_recall",
    s"matryoshka recall@10: $MatryoshkaDim-dim slate + full-dim rerank vs exact full-dim top-10",
    SimOracle.matryoshkaRecallSql) { (s, d) =>
    val bf = bruteforce.frame(s, d).select(col("qid"), col("vec_id"))
    val mr = matryoshkaFrame(s, d)
      .select(col("qid").as("mq"), col("vec_id").as("mv"))
    bf.join(mr, col("qid") === col("mq") && col("vec_id") === col("mv"),
        "left")
      .groupBy(col("qid"))
      .agg(count(col("mv")).as("n_hits"),
        (count(col("mv")) / lit(10.0)).as("recall"))
      .orderBy("qid")
  }

  /** Minimum average retained-energy share the adaptive matryoshka
    * prefix must carry ([[matryoshkaAdaptive]]).
    */
  val MatryoshkaEnergyTarget = 0.5

  /** Matryoshka retrieval with a DATA-DERIVED prefix dim — the
    * [[dimTruncation]] diagnostic composed into the serving path (the
    * RFM-tercile recipe for model hyperparameters): the prefix length is
    * the smallest k in [[TruncDims]] whose AVERAGE retained energy
    * reaches [[MatryoshkaEnergyTarget]] (falling back to [[SimFns.Dims]]
    * when none qualifies), fetched by ONE tiny aggregate action (4 rows
    * of model state — the kmeans count-action convention), then the
    * [[matryoshkaRerank]] two-stage pipeline runs at that dim and grades
    * itself with the [[matryoshkaRecall]] convention, the chosen dim
    * riding every row. On this near-isotropic corpus (~25% energy at 16
    * dims) the rule picks 32 and lifts recall over the fixed-16 0.44 —
    * the honest-but-low diagnostic turned into a self-tuning artifact.
    * The oracle derives the SAME k in SQL (an energy CTE + COALESCE(MIN
    * k), the `kn` scalar-subquery recipe) so both engines choose
    * identically from the data.
    */
  val matryoshkaAdaptive: GraftQuery = GraftQuery(
    "ann_matryoshka_adaptive",
    s"matryoshka with data-derived prefix dim (smallest k at >= $MatryoshkaEnergyTarget avg energy): two-stage recall@10",
    SimOracle.matryoshkaAdaptiveSql) { (s, d) =>
    val kRow = truncEnergies(s, d)
      .filter(col("avg_energy") >= MatryoshkaEnergyTarget)
      .agg(min(col("k")).as("kd")).collect()(0)
    val kStar = if (kRow.isNullAt(0)) Dims else kRow.getInt(0)
    val bf = bruteforce.frame(s, d).select(col("qid"), col("vec_id"))
    val mr = matryoshkaFrame(s, d, kStar)
      .select(col("qid").as("mq"), col("vec_id").as("mv"))
    bf.join(mr, col("qid") === col("mq") && col("vec_id") === col("mv"),
        "left")
      .groupBy(col("qid"))
      .agg(count(col("mv")).as("n_hits"),
        (count(col("mv")) / lit(10.0)).as("recall"))
      .withColumn("chosen_dim", lit(kStar))
      .orderBy("qid")
  }

  /** Power-iteration sweeps for [[pcaPower]]. Five because the synthetic
    * corpus is near-isotropic (top eigenvalues within ~7% of each other),
    * so convergence is slow — the spec checks the one-more-matvec cosine,
    * which 5 sweeps hold above 0.99 at every SF.
    */
  val PcaSweeps = 5

  /** Distributed power iteration — the dominant principal direction of
    * the embedding corpus (uncentered: the top right-singular vector of
    * X), the linear-algebra primitive behind PCA whitening, spectral
    * outlier screens, and matryoshka-dimension audits. Each sweep
    * computes z = Xᵀ(Xw) in two corpus passes: a per-vector dot with the
    * broadcast direction, then a per-dimension quantized-LONG sum of
    * s·x — the classic distributed matvec where ONLY the 64-double
    * direction vector ever moves. The driver collects z (64 doubles per
    * sweep — model state, the BPE/CC iteration-control shape) to
    * renormalize; corpus data never leaves the executors.
    *
    * Determinism: every per-dimension reduction is an exact 1e-9 LONG
    * sum; the norm is the same index-ordered fold on both engines
    * (VecDot/list_reduce association, 0.0 seed absorbed); the collected
    * doubles re-enter the next sweep as literals equal bit-for-bit to the
    * oracle's CTE-computed direction.
    */
  val pcaPower: GraftQuery = GraftQuery(
    "embedding_pca_power",
    s"power iteration: dominant principal direction + eigenvalue, $PcaSweeps distributed matvec sweeps",
    SimOracle.pcaPowerSql) { (s, d) =>
    val base = vecs(s, d).select(col("vec_id"), col("v")).localCheckpoint()
    var w: Seq[Double] = Seq.fill(Dims)(1.0)
    var lambda = 0.0
    for (_ <- 1 to PcaSweeps) {
      val wc = array(w.map(lit): _*)
      val z = base
        .withColumn("s", dot(col("v"), wc))
        .select(col("s"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg(sum(graft.api.Det.quantize(col("s") * col("x"), 9)).as("zq"))
        .orderBy("pos")
        .collect()
        .map(_.getLong(1) / 1e9)
      lambda = math.sqrt(z.foldLeft(0.0)((a, x) => a + x * x))
      w = z.map(_ / lambda).toSeq
    }
    val spark0 = s
    import spark0.implicits._
    w.zipWithIndex.map { case (l, i) => (i + 1, l, lambda) }
      .toDF("dim", "loading", "lambda")
      .orderBy("dim")
  }

  /** Label-space SEPARATION metric — simplified silhouette (Hruschka et
    * al.'s centroid form: a = distance to the OWN label centroid, b =
    * distance to the nearest OTHER centroid, s = (b−a)/max(a,b)), the
    * embedding-quality number a pipeline gates on before trusting labels
    * or label-conditioned sampling: mean s per label, the
    * well-clustered fraction (s > 0), and the own/other distance means.
    * The full-silhouette's O(n²) pairwise term is exactly what does NOT
    * scale; the centroid form is the production substitute — per-vector
    * cost is |labels| broadcast distances, one pass over the scan.
    *
    * Determinism: centroids are the [[labelCentroids]] quantized-mean
    * recipe; distances the kmeans vv + cc − 2·v·c association; per-vector
    * s/a/b quantize to 1e-9 LONGs before the per-label means.
    */
  val silhouette: GraftQuery = GraftQuery(
    "embedding_silhouette",
    "simplified silhouette per label: (b − a)/max(a,b) against own vs nearest-other centroid",
    SimOracle.silhouetteSql) { (s, d) =>
    import graft.api.Det
    val v = vecs(s, d).select(col("vec_id"), col("label"), col("v"))
    val cents = v
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(Det.quantize(col("x"), 9)) /
        (lit(Det.pow10(9)) * count(lit(1)))).as("m"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("c"))
    val cs = broadcast(cents.agg(array_sort(collect_list(struct(
      col("label").as("l"), col("c"),
      dot(col("c"), col("c")).as("cc")))).as("cs")))
    val scored = v.crossJoin(cs)
      .withColumn("vv", dot(col("v"), col("v")))
      .withColumn("dists", transform(col("cs"), e =>
        struct(e.getField("l").as("l"),
          (col("vv") + e.getField("cc")
            - lit(2.0) * dot(col("v"), e.getField("c"))).as("d"))))
      // clamp at 0 before sqrt: vv + cc − 2·v·c can cancel to a tiny
      // negative for a vector ~equal to its own centroid; Spark would
      // yield NaN while DuckDB ERRORS on sqrt(<0) — the clamp (mirrored
      // in the oracle's sa/sb CTEs) keeps both engines defined and equal.
      .withColumn("a", sqrt(greatest(element_at(filter(col("dists"),
        x => x.getField("l") === col("label")), 1).getField("d"), lit(0.0))))
      .withColumn("b", sqrt(greatest(array_min(transform(filter(col("dists"),
        x => x.getField("l") =!= col("label")), x => x.getField("d"))),
        lit(0.0))))
      .withColumn("sil", when(greatest(col("a"), col("b")) > 0,
        (col("b") - col("a")) / greatest(col("a"), col("b")))
        .otherwise(lit(0.0)))
    scored.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        ((sum(Det.quantize(col("sil"), 9)) / lit(Det.pow10(9)))
          / count(lit(1))).as("mean_silhouette"),
        (sum(when(col("sil") > 0, 1L).otherwise(0L)) / count(lit(1)))
          .as("well_clustered_frac"),
        ((sum(Det.quantize(col("a"), 9)) / lit(Det.pow10(9)))
          / count(lit(1))).as("mean_dist_own"),
        ((sum(Det.quantize(col("b"), 9)) / lit(Det.pow10(9)))
          / count(lit(1))).as("mean_dist_other"))
      .orderBy("label")
  }

  /** Embedding-QA / mislabel screen: z-scored squared distance to the
    * vector's LABEL centroid — a vector far from its own class centroid
    * is a labeling error or an embedding-quality defect. (Norm-based
    * screens are degenerate here: the corpus embeddings are
    * unit-normalized, so norm variance is exactly zero.) Centroids are
    * the [[labelCentroids]] quantized-mean recipe; per-label mean/sd of
    * the squared distance use the TWO-PASS centered form (the naive
    * E[x²]−E[x]² cancels catastrophically when var << mean²); top-10 by
    * |z| with vec_id ties. All moment sums are exact quantized LONGs, so
    * the screen is partition-invariant.
    */
  val centroidOutliers: GraftQuery = GraftQuery(
    "embedding_centroid_outliers",
    "embedding QA: top-10 z-scored distances to the label centroid (mislabel screen)",
    SimOracle.centroidOutliersSql) { (s, d) =>
    import graft.api.Det
    val v = vecs(s, d).select(col("vec_id"), col("label"), col("v"))
    val cents = v
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(Det.quantize(col("x"), 9)) /
        (lit(Det.pow10(9)) * count(lit(1)))).as("m"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("c"))
    val sq = v.join(broadcast(cents), "label")
      .select(col("vec_id"), col("label"),
        (dot(col("v"), col("v")) + dot(col("c"), col("c"))
          - lit(2.0) * dot(col("v"), col("c"))).as("sqdist"))
      .localCheckpoint()
    val m1 = sq.groupBy(col("label"))
      .agg(((sum(Det.quantize(col("sqdist"), 9)) / lit(Det.pow10(9))) /
        count(lit(1))).as("mu"))
    val stats = sq.join(broadcast(m1), "label")
      .groupBy(col("label"))
      .agg(
        (sum(Det.quantize(
          (col("sqdist") - col("mu")) * (col("sqdist") - col("mu")), 9)) /
          lit(Det.pow10(9))).as("ss"),
        count(lit(1)).as("n"),
        min(col("mu")).as("mu"))
      .select(col("label"), col("mu"), sqrt(col("ss") / col("n")).as("sd"))
    sq.join(broadcast(stats), "label")
      .select(col("vec_id"), col("label"), col("sqdist"),
        ((col("sqdist") - col("mu")) / col("sd")).as("z"))
      .withColumn("az", abs(col("z")))
      .orderBy(desc("az"), col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("label"), col("sqdist"), col("z"))
  }

  /** Hard-negative band and count for [[contrastiveNegatives]]. */
  val HardNegLo = 0.3
  val HardNegHi = 0.8
  val HardNegK = 3

  /** Hard-negative mining — the training-data operator behind contrastive
    * embedding fine-tuning (and reranker distillation): for each query
    * vector, the [[HardNegK]] most-similar SAME-CELL documents whose
    * cosine falls in [[[HardNegLo]], [[HardNegHi]]) — similar enough to be
    * informative, dissimilar enough to be true negatives; near-dups above
    * the band are excluded (they'd be false negatives — the SemDeDup
    * screen's territory). The trained k-means cell bounds the candidate
    * join exactly as in [[semanticDedup]]: pairs are mined per cell,
    * never across the corpus.
    */
  val contrastiveNegatives: GraftQuery = GraftQuery(
    "contrastive_negatives",
    s"hard-negative mining: top-$HardNegK same-cell docs with cosine in [$HardNegLo, $HardNegHi)",
    SimOracle.contrastiveNegativesSql) { (s, d) =>
    val v = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val m = v.join(kmeansCells(s, d), "vec_id").localCheckpoint()
    val q = m.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), col("vec_id"))
    q.join(m, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .filter(col("cosine") >= HardNegLo && col("cosine") < HardNegHi)
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= HardNegK)
      .select(col("qid"), col("rn"), col("vec_id"), col("cosine"))
      .orderBy("qid", "rn")
  }

  /** Reciprocal-rank-fusion constant (the standard k=60). */
  val RrfK = 60

  /** Hybrid retrieval: reciprocal-rank fusion of a LEXICAL ranking
    * (DF-capped n-gram Jaccard, the dedup pair machinery) and a SEMANTIC
    * ranking (exact cosine top-10, the ANN baseline) for the same query
    * documents — the modern two-channel retrieval stack, here as operator
    * COMPOSITION: both channels are the registry pipelines they name,
    * fused by rrf = Σ 1/(k + rank).
    *
    * Scale shape: each channel is its own linear candidate generator
    * (inverted-index join / broadcast-query scan); the fusion join touches
    * only the two top-10 lists per query. Each 1/(k+rank) term is
    * quantized to a LONG so the two-term sum is exact on both engines.
    */
  val hybridSearch: GraftQuery = GraftQuery(
    "doc_hybrid_search",
    s"hybrid retrieval: RRF (k=$RrfK) over ngram-Jaccard lexical + cosine semantic top-10s",
    SimOracle.hybridSearchSql) { (s, d) =>
    val sem = bruteforce.frame(s, d)
      .select(col("qid"), col("vec_id").as("doc"), col("rn").as("r_sem"))
    val pairs = graft.dedup.DedupQueries.sharedNgramPairs(s, d)
    val lexAll = pairs
      .select(col("doc_a").as("qid"), col("doc_b").as("doc"), col("jaccard"))
      .unionByName(pairs
        .select(col("doc_b").as("qid"), col("doc_a").as("doc"), col("jaccard")))
      .filter(col("qid") % 100 === 0)
    val wl = Window.partitionBy(col("qid")).orderBy(desc("jaccard"), col("doc"))
    val lex = lexAll
      .withColumn("r_lex", row_number().over(wl).cast("int"))
      .filter(col("r_lex") <= 10)
      .select(col("qid"), col("doc"), col("r_lex"))
    val fused = sem.join(lex, Seq("qid", "doc"), "full_outer")
      .select(col("qid"), col("doc"),
        (coalesce(floor(lit(1e9) / (lit(RrfK) + col("r_sem")) + lit(0.5)), lit(0L))
          + coalesce(floor(lit(1e9) / (lit(RrfK) + col("r_lex")) + lit(0.5)), lit(0L)))
          .as("sq"))
    val wf = Window.partitionBy(col("qid")).orderBy(desc("sq"), col("doc"))
    fused
      .withColumn("rn", row_number().over(wf).cast("int"))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("doc").as("doc_id"),
        (col("sq") / lit(1e9)).as("rrf"))
      .orderBy("qid", "rn")
  }

  /** Chunk-grain HYBRID retrieval — the missing semantic half of the RAG
    * loop `chunk_search_bm25` opened: chunk VECTORS are derived by
    * deterministic feature hashing (testdata has no chunk embeddings —
    * documented synthetic: each token lands in dim = hash60(token) %
    * [[SimFns.Dims]] with a ±1 sign from hash bit 6, the classic
    * hashing-trick projection, so the vector space is shared by corpus
    * chunks and the query's term set), bucketed by the SAME sign-LSH
    * planes as [[lshTopk]]; the fixed BM25 query projects into the same
    * space, probes its bucket + Hamming-1 neighbors, cosine-ranks the
    * candidate chunks, and the semantic top-10 fuses with the chunk-BM25
    * lexical top-10 ([[graft.text.TextQueries.chunkBm25Frame]]) by the
    * [[hybridSearch]] RRF recipe, metadata joined AFTER the cut.
    *
    * Scale shape: the projection is one narrow explode + a (chunk, dim)-
    * keyed partial agg (the labelCentroids assembly); LSH bounds the
    * cosine scan to the probed buckets (~3.5% of chunks at 8 planes);
    * both channels' fusion touches two top-10 lists; the doc-metadata
    * join is 10 rows by id. Determinism: projected coordinates are ±1
    * sums (integer-exact doubles), cosine is the shared ordered fold,
    * RRF terms quantize to LONGs, all ties break (doc_id, chunk_id).
    */
  val chunkHybrid: GraftQuery = GraftQuery(
    "chunk_hybrid_search",
    s"chunk-grain RAG retrieval: RRF(k=$RrfK) over hash-projected sign-LSH semantic + chunk BM25 lexical",
    SimOracle.chunkHybridSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    // feature-hash projection of every chunk into the Dims-dim space
    val cv = chunkSparseCoords(docs)
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("x"))))
        .as("m"))
      .withColumn("v", expr(
        s"transform(sequence(0, ${Dims - 1}), i -> coalesce(element_at(m, i), 0D))"))
      .select(col("doc_id"), col("chunk_id"), col("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("bucket", lshBucket(col("v")))
    // the SAME projection of the fixed query terms, computed driver-side
    // (identical md5-hex / bit arithmetic -> identical ±1 counts)
    val qvArr = {
      val acc = Array.fill(Dims)(0.0)
      graft.text.TextQueries.Bm25Terms.foreach { t =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
        acc((h % Dims).toInt) += (if (((h >> 6) & 1L) == 1L) 1.0 else -1.0)
      }
      acc.toIndexedSeq
    }
    val q = s.range(1)
      .select(array(qvArr.map(lit): _*).as("qv"))
      .withColumn("qnrm", norm(col("qv")))
      .withColumn("probe", explode(probeBuckets(lshBucket(col("qv")))))
    val ws = Window.orderBy(desc("cosine"), col("doc_id"), col("chunk_id"))
    val sem = cv.filter(col("nrm") > 0)
      .join(broadcast(q), col("bucket") === col("probe"))
      .withColumn("cosine",
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("r_sem", row_number().over(ws).cast("int"))
      .filter(col("r_sem") <= 10)
      .select(col("doc_id"), col("chunk_id"), col("r_sem"))
    val wl = Window.orderBy(desc("score"), col("doc_id"), col("chunk_id"))
    val lex = graft.text.TextQueries.chunkBm25Frame(docs)
      .withColumn("r_lex", row_number().over(wl).cast("int"))
      .select(col("doc_id"), col("chunk_id"), col("r_lex"))
    val fused = sem.join(lex, Seq("doc_id", "chunk_id"), "full_outer")
      .select(col("doc_id"), col("chunk_id"),
        (coalesce(
          floor(lit(1e9) / (lit(RrfK) + col("r_sem")) + lit(0.5)), lit(0L))
          + coalesce(
            floor(lit(1e9) / (lit(RrfK) + col("r_lex")) + lit(0.5)), lit(0L)))
          .as("sq"))
    val wf = Window.orderBy(desc("sq"), col("doc_id"), col("chunk_id"))
    fused
      .withColumn("rn", row_number().over(wf).cast("int"))
      .filter(col("rn") <= 10)
      .join(docs.select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .select(col("doc_id"), col("chunk_id"), col("rn"),
        (col("sq") / lit(1e9)).as("rrf"), col("lang"), col("source"))
      .orderBy("rn")
  }

  /** Sparse hashing-trick chunk coordinates (doc_id, chunk_id, dim, x) —
    * the shared projection behind [[chunkHybrid]]'s dense chunk vectors
    * and [[lateInteraction]]'s coordinate postings: each token of each
    * chunk lands in dim = hash60(token) % [[SimFns.Dims]] with a ±1 sign
    * from hash bit 6, summed per (chunk, dim). One narrow explode + one
    * (chunk, dim)-keyed partial agg; nothing dense materializes here.
    */
  private[graft] def chunkSparseCoords(docs: DataFrame): DataFrame =
    graft.text.TextQueries.chunkRowsFrame(docs)
      .select(col("doc_id"), col("chunk_id"), explode(col("ctoks")).as("term"))
      .withColumn("h", graft.text.TextFns.hash60(col("term")))
      .select(col("doc_id"), col("chunk_id"),
        (col("h") % Dims).cast("int").as("dim"),
        when(shiftright(col("h"), 6).bitwiseAND(lit(1L)) === 1, lit(1.0))
          .otherwise(lit(-1.0)).as("sgn"))
      .groupBy(col("doc_id"), col("chunk_id"), col("dim"))
      .agg(sum(col("sgn")).as("x"))

  /** ColBERT-style LATE-INTERACTION retrieval — the multi-vector scoring
    * rule single-vector chunk search cannot express: every query term
    * keeps its OWN vector (here its hashing-trick projection — a signed
    * one-hot in the shared [[chunkSparseCoords]] space), each term takes
    * the MAX cosine over all of a document's chunk vectors (MaxSim), and
    * the document scores the SUM of its per-term maxima. A term absent
    * from every chunk contributes 0; a term whose best present chunk is
    * NEGATIVE clamps to 0 when the doc has any chunk without that
    * coordinate (the true max includes those chunks' cosine-0).
    *
    * Scale shape: the interaction never materializes |terms| × |chunks|
    * — with one-hot term vectors the per-(term, chunk) cosine is
    * sgn·x[dim]/‖chunk‖, so candidates are exactly the COORDINATE
    * POSTINGS at the query terms' dims (an equi-join of the sparse
    * coords against a broadcast 5-row dim table — the inverted-index
    * contract of [[graft.text.TextQueries.searchBm25]], here on hash
    * coordinates, collisions included by construction). Per-doc maxima
    * and sums are partial aggs on (doc, term) / (doc); the top-10 cut is
    * a WindowGroupLimit; doc metadata joins after the cut, 10 rows by id.
    *
    * Determinism: per-(term, chunk) cosines quantize to 9-decimal LONGs
    * (one double division each, identical association both engines);
    * max/sum over longs are exact; ties break on doc_id.
    */
  val lateInteraction: GraftQuery = GraftQuery(
    "chunk_late_interaction",
    "late-interaction (MaxSim) retrieval: per-term max cosine over chunk vectors, summed per doc, top-10",
    SimOracle.lateInteractionSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    import graft.text.TextQueries.Bm25Terms
    // x = 0 coordinates (sign-cancelled) are indistinguishable from
    // absent on both engines: drop them before anything downstream
    val ps = chunkSparseCoords(docs).filter(col("x") =!= 0.0)
    val nrm = ps.groupBy(col("doc_id"), col("chunk_id"))
      .agg(sqrt(sum(col("x") * col("x"))).as("nrm"))
    val nch = graft.text.TextQueries.chunkRowsFrame(docs)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    val qd = s.range(1)
      .select(explode(array(Bm25Terms.map(lit(_)): _*)).as("term"))
      .withColumn("h", graft.text.TextFns.hash60(col("term")))
      .select(col("term"), (col("h") % Dims).cast("int").as("dim"),
        when(shiftright(col("h"), 6).bitwiseAND(lit(1L)) === 1, lit(1.0))
          .otherwise(lit(-1.0)).as("qsgn"))
    val cand = ps.join(broadcast(qd), "dim")
      .join(nrm, Seq("doc_id", "chunk_id"))
      .select(col("term"), col("doc_id"), col("chunk_id"),
        floor(col("qsgn") * col("x") / col("nrm") * lit(1e9) + lit(0.5))
          .cast("long").as("cos_q"))
    val perTerm = cand.groupBy(col("doc_id"), col("term"))
      .agg(max(col("cos_q")).as("mx"), count(lit(1)).as("n_present"))
      .join(nch, "doc_id")
      .select(col("doc_id"), col("n_chunks"),
        when(col("n_present") < col("n_chunks"), greatest(col("mx"), lit(0L)))
          .otherwise(col("mx")).as("maxsim_q"))
    // n_chunks rides through the aggregation (constant per doc) so the
    // chunkRows pipeline behind nch is planted in the plan exactly once
    val perDoc = perTerm.groupBy(col("doc_id"))
      .agg(sum(col("maxsim_q")).as("sq"),
        sum(when(col("maxsim_q") > 0, 1L).otherwise(0L)).as("terms_hit"),
        max(col("n_chunks")).as("n_chunks"))
    // global top-10 as sort+limit, which plans as TakeOrderedAndProject
    // (distributed partial top-k per partition, no single-partition
    // window over the candidate docs); the rank window then runs over
    // exactly 10 rows
    val w = Window.orderBy(desc("sq"), col("doc_id"))
    perDoc.orderBy(desc("sq"), col("doc_id")).limit(10)
      .withColumn("rn", row_number().over(w).cast("int"))
      .join(docs.select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .select(col("rn"), col("doc_id"), (col("sq") / lit(1e9)).as("li_score"),
        col("terms_hit"), col("n_chunks"), col("lang"), col("source"))
      .orderBy("rn")
  }

  /** Terms reported per cluster and the noise floor for
    * [[clusterTopics]]. Declared before the GraftQuery val (SimOracle
    * interpolates them).
    */
  val TopicTermsK = 5
  val TopicMinCount = 5L

  /** Cluster topic labeling — the "what IS this cluster" dashboard every
    * embedding-clustered corpus needs (mixture auditing, cluster-targeted
    * filtering, SemDeDup triage): for each TRAINED k-means cell, the
    * top-[[TopicTermsK]] tokens by lift = P(token | cell) / P(token).
    * A cross-subsystem composition: the cell assignment is the SAME
    * trained quantizer [[kmeans]]/[[semanticDedup]] grade (embeddings
    * subsystem), the term statistics ride the documents corpus (text
    * subsystem), joined on the doc == vec identity.
    *
    * Scale shape: token occurrences partial-agg to (doc, token, cnt)
    * BEFORE the cell join (the doc-keyed equi-join is the one
    * corpus-sized shuffle); (cell, token) counts are k x vocab bounded;
    * every later join is against vocab- or k-bounded frames and the
    * top-k rank filter is WindowGroupLimit-shaped.
    *
    * Determinism: lift's ln is quantized to 9 decimals per (cell, token)
    * TYPE; its operand is a ratio of exact BIGINT counts via two
    * identically-associated IEEE divisions; ties break on the token.
    */
  val clusterTopics: GraftQuery = GraftQuery(
    "cluster_topic_terms",
    s"cluster labeling: top-$TopicTermsK lift tokens per trained k-means cell",
    SimOracle.clusterTopicsSql) { (s, d) =>
    // the token-posting mine and the quantizer TRAINING are independent
    // until the cell join: materialize the postings (3 downstream
    // consumers — without the cut the explode+agg re-runs per consumer)
    // concurrently with the driver-iterated Lloyd loop. Same-window
    // A/B at sf0.1: a WASH (1.86 -> 1.83 s — the checkpoint barrier
    // offsets the dedup + overlap at this SF); kept because at corpus
    // scale the 3x posting re-mine grows with data while the barrier
    // write is one narrow (doc, token, cnt) frame
    val (occ, cells) = Par.all(
      graft.Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.text.TextFns.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(),
      kmeansCells(s, d))
    val cellTok = occ.join(cells, occ("doc_id") === cells("vec_id"))
      .groupBy(col("cell"), col("token"))
      .agg(sum(col("cnt")).as("cnt_cell"))
    val cellTot = cellTok.groupBy(col("cell"))
      .agg(sum(col("cnt_cell")).as("toks_cell"))
    val corpTok = occ.groupBy(col("token")).agg(sum(col("cnt")).as("cnt_all"))
    val corpTot = occ.agg(sum(col("cnt")).as("toks_all"))
    val scored = cellTok
      .join(broadcast(cellTot), "cell")
      .join(corpTok, "token")
      .crossJoin(broadcast(corpTot))
      .filter(col("cnt_cell") >= TopicMinCount)
      .select(col("cell"), col("token"), col("cnt_cell"),
        (floor(log((col("cnt_cell").cast("double") / col("toks_cell")) /
          (col("cnt_all").cast("double") / col("toks_all")))
          * lit(1e9) + lit(0.5)) / lit(1e9)).as("lift"))
    val w = Window.partitionBy(col("cell")).orderBy(desc("lift"), col("token"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= TopicTermsK)
      .select(col("cell"), col("rank"), col("token"), col("cnt_cell"),
        col("lift"))
      .orderBy(col("cell"), col("rank"))
  }

  /** Bitext / parallel-corpus candidate mining — the multilingual
    * training-data operator: documents in DIFFERENT languages whose
    * embeddings sit close are translation-pair candidates (the
    * CCMatrix/LASER margin-mining shape). Same trained-cell restriction
    * as [[semanticDedup]] — candidates never cross the corpus, only the
    * k-means cell — but the pair predicate inverts the language test:
    * lang_a != lang_b, joined from the documents side of the parallel
    * tables. Top-20 by cosine with both languages reported. At scale
    * this is the exact SemDeDup plan with one extra broadcast-sized
    * (id, lang) join per side; the cross-lingual filter prunes AT the
    * pair join, not after it.
    */
  val crosslingualPairs: GraftQuery = GraftQuery(
    "crosslingual_pairs",
    "bitext candidate mining: cross-language cosine top-20 within trained k-means cells",
    SimOracle.crosslingualSql) { (s, d) =>
    val langs = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("lang"))
    val v = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
      .join(langs, col("vec_id") === col("doc_id"))
      .join(kmeansCells(s, d), "vec_id")
    val x = v.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("nrm").as("na"), col("lang").as("lang_a"), col("cell").as("cell_a"))
    x.join(v.as("y"),
        col("cell_a") === col("y.cell") && col("vec_a") < col("y.vec_id")
          && col("lang_a") =!= col("y.lang"))
      .select(col("cell_a").as("cell"), col("vec_a"),
        col("y.vec_id").as("vec_b"), col("lang_a"), col("y.lang").as("lang_b"),
        (dot(col("va"), col("y.v")) / (col("na") * col("y.nrm"))).as("cosine"))
      .orderBy(desc("cosine"), col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** Semantic dedup CLUSTERS — the embedding-side twin of the text
    * family's `dedup_clusters`: connected components over the full
    * intra-cell cosine >= [[SimFns.SemDedupCosine]] edge set (the
    * unlimited frame `semantic_dedup_pairs` top-20s), one row per
    * cluster with canonical id (min vec_id) and size. Closes the
    * symmetric gap: text near-dups got cluster assignment in round 3,
    * semantic near-dups only ever got ranked pairs. Same scale contract
    * as SemDeDup (candidates never leave the trained cell) + the
    * size-adaptive CC machinery, reused across subsystems.
    */
  val semanticClusters: GraftQuery = GraftQuery(
    "semantic_dedup_clusters",
    s"CC over intra-cell cosine >= ${SimFns.SemDedupCosine} edges: per-cluster canonical id + size",
    SimOracle.semanticClustersSql) { (s, d) =>
    graft.dedup.DedupQueries.connectedComponents(semanticEdges(s, d))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy(desc("cluster_size"), col("cluster_id"))
  }

  /** The full (unlimited) intra-cell SemDeDup edge set (a < b), shared by
    * [[semanticClusters]] and the cross-subsystem dedup funnel.
    */
  private[graft] def semanticEdges(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val m = v.join(kmeansCells(s, d), "vec_id")
    val x = m.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("nrm").as("na"), col("cell").as("cell_a"))
    x.join(m.as("y"),
        col("cell_a") === col("y.cell") && col("vec_a") < col("y.vec_id"))
      .select(col("vec_a").as("a"), col("y.vec_id").as("b"),
        (dot(col("va"), col("y.v")) / (col("na") * col("y.nrm"))).as("cosine"))
      .filter(col("cosine") >= lit(SimFns.SemDedupCosine))
      .select(col("a"), col("b"))
  }

  /** MMR trade-off weight (relevance vs diversity) and selection depth. */
  val MmrLambda = 0.7
  val MmrK = 3

  /** Maximal-marginal-relevance re-ranking — the diversity pass a RAG /
    * example-selection pipeline runs AFTER ANN retrieval (near-duplicate
    * passages crowd out coverage; MMR trades relevance against novelty):
    * greedily pick [[MmrK]] of each query's cosine top-10, step j
    * scoring each remaining candidate
    * λ*rel − (1−λ)*max_{s∈selected} sim(c, s) and taking the argmax
    * (ties to the smaller vec_id). Everything after the ANN stage is
    * per-query TINY — pairwise candidate sims are 10x10 per query, the
    * greedy steps are window argmaxes over those frames — so the
    * operator adds NO corpus-sized work to the retrieval it re-ranks;
    * the unrolled [[MmrK]]-step plan is the standard way an iterative
    * greedy of fixed small depth stays one declarative query.
    * Determinism: rel and sim are the ordered-fold cosines (bit-equal
    * cross-engine); the score arithmetic keeps one association; argmax
    * is row_number with a vec_id tie-break.
    */
  val mmrRerank: GraftQuery = GraftQuery(
    "doc_mmr_rerank",
    s"MMR diversity re-ranking: greedy $MmrK of cosine top-10, lambda=$MmrLambda",
    SimOracle.mmrSql) { (s, d) =>
    val lam = MmrLambda
    val v = vecs(s, d)
    val q = broadcast(queriesOf(v))
    val wq = Window.partitionBy(col("qid")).orderBy(desc("rel"), col("vec_id"))
    // ANN stage: cosine top-10 with vectors riding along for the sims
    val cand = q.join(v, col("vec_id") =!= col("qid"))
      .withColumn("rel", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"), col("rel"), col("v"), col("nrm"))
      .localCheckpoint()
    // pairwise candidate sims: 10x10 per query
    val ps = cand.as("a")
      .join(cand.as("b"),
        col("a.qid") === col("b.qid") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.qid").as("qid"), col("a.vec_id").as("ca"),
        col("b.vec_id").as("cb"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .as("sim"))
    val slim = cand.select(col("qid"), col("vec_id"), col("rel"))
    // greedy unroll: step 1 is plain relevance argmax
    val w1 = Window.partitionBy(col("qid")).orderBy(desc("rel"), col("vec_id"))
    val first = slim.withColumn("rnk", row_number().over(w1))
      .filter(col("rnk") === 1)
    var out = first.select(col("qid"), lit(1).as("rank"), col("vec_id"),
      col("rel"), col("rel").as("mmr_score"))
    var selected = first.select(col("qid").as("sq"), col("vec_id").as("sel"))
    for (j <- 2 to MmrK) {
      val remaining = slim.join(
        selected.select(col("sq").as("qid"), col("sel").as("vec_id")),
        Seq("qid", "vec_id"), "left_anti")
      val maxSim = ps.as("p")
        .join(selected, col("p.qid") === col("sq") && col("cb") === col("sel"))
        .groupBy(col("p.qid").as("mq"), col("ca"))
        .agg(max(col("sim")).as("max_sim"))
      val scoredj = remaining
        .join(maxSim, col("qid") === col("mq") && col("vec_id") === col("ca"))
        .select(col("qid"), col("vec_id"), col("rel"),
          (lit(lam) * col("rel") - lit(1.0 - lam) * col("max_sim"))
            .as("mmr_score"))
      val wj = Window.partitionBy(col("qid"))
        .orderBy(desc("mmr_score"), col("vec_id"))
      val pick = scoredj.withColumn("rnk", row_number().over(wj))
        .filter(col("rnk") === 1)
        .localCheckpoint()
      out = out.unionByName(pick.select(col("qid"), lit(j).as("rank"),
        col("vec_id"), col("rel"), col("mmr_score")))
      selected = selected.unionByName(
        pick.select(col("qid").as("sq"), col("vec_id").as("sel")))
    }
    out.orderBy("qid", "rank")
  }

  /** kNN label propagation accuracy — the embedding-space EVAL harness: a
    * training pipeline grades its embedding table by whether a held-out
    * query's label is recoverable from its nearest neighbors (the
    * standard linear-probe-free quality check). Each query vector
    * (vec_id % 100 = 0, the ANN query set) takes the majority label of
    * its cosine top-10 (ties to the smaller label id), and the output is
    * the per-true-label confusion summary: queries, correct votes,
    * accuracy. Scale shape: identical to [[bruteforce]] — broadcast
    * query side, one embarrassingly-parallel corpus pass, then
    * query-keyed window votes on the tiny top-k frame; swapping in the
    * IVF/LSH candidate generator changes recall, not this plan's shape.
    */
  val knnLabelAccuracy: GraftQuery = GraftQuery(
    "ann_knn_label_accuracy",
    "kNN eval: majority label of cosine top-10 vs true label, per-label accuracy",
    SimOracle.knnLabelSql) { (s, d) =>
    val v = vecs(s, d)
    val q = broadcast(v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("label").as("true_label")))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), col("vec_id"))
    val top = q.join(v, col("vec_id") =!= col("qid"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
    val votes = top.groupBy(col("qid"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val wv = Window.partitionBy(col("qid")).orderBy(desc("cnt"), col("label"))
    val pred = votes.withColumn("vr", row_number().over(wv))
      .filter(col("vr") === 1)
      .select(col("qid"), col("true_label"), col("label").as("pred_label"))
    pred.groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum((col("pred_label") === col("true_label")).cast("long"))
          .as("n_correct"))
      .select(col("true_label").as("label"), col("n_queries"),
        col("n_correct"),
        (col("n_correct") / col("n_queries")).as("accuracy"))
      .orderBy("label")
  }

  /** PSI band edges (the industry 0.1 / 0.25 convention). */
  val PsiModerate = 0.1
  val PsiMajor = 0.25

  /** EMBEDDING DRIFT monitor — the check a production vector pipeline
    * runs before anything else consumes a new batch: has the embedding
    * DISTRIBUTION moved against the population the serving index was
    * built for? Binning is the trained IVF cell assignment itself (the
    * shared model — "is the index still balanced for new traffic" is
    * exactly the question), the batch split is the [[ivfpqIncremental]]
    * 90/10 content-hash convention, and the score is the Population
    * Stability Index Σ (p_new − p_old)·ln(p_new/p_old) with add-one
    * smoothing (a cell empty on either side must contribute a finite
    * term), banded at the standard [[PsiModerate]]/[[PsiMajor]] edges.
    *
    * Scale shape: one narrow pass over the model-sized cells table
    * (itself one row per vector, already persisted), a k-row broadcast
    * total, k-row term math — the monitor costs an aggregate, never a
    * corpus rescan. Determinism: shares are exact small-int divisions;
    * the ONE transcendental ln is quantized per CELL to a 1e-9 LONG
    * (the doc_quality_nb recipe); each term re-quantizes to 1e-9 before
    * the exact LONG sum. SimSpec plants a concentrated-shift fixture
    * (PSI goes `major`) and an identical-split fixture (PSI `stable`).
    */
  val driftPsi: GraftQuery = GraftQuery(
    "embedding_drift_psi",
    "embedding drift monitor: PSI of the 10% hash batch's IVF-cell occupancy vs the 90% base, add-one smoothed, banded",
    SimOracle.driftPsiSql) { (s, d) =>
    val hb = call_function("hash60", col("vec_id").cast("string")) % 10
    driftPsiFrame(sharedCells(s, d).withColumn("is_old", (hb =!= 0).cast("int")))
  }

  /** The PSI derivation over any (cell, is_old) frame — the fixture seam
    * for SimSpec's planted-drift pins.
    */
  private[graft] def driftPsiFrame(cells: DataFrame): DataFrame = {
    val sp = cells
      .groupBy(col("cell"))
      .agg(sum(col("is_old")).as("n_old"),
        sum(lit(1) - col("is_old")).as("n_new"))
    val tot = sp.agg(sum(col("n_old")).as("t_old"),
      sum(col("n_new")).as("t_new"), count(lit(1)).as("k"))
    val terms = sp.crossJoin(broadcast(tot))
      .withColumn("p_old", (col("n_old") + 1).cast("double")
        / (col("t_old") + col("k")).cast("double"))
      .withColumn("p_new", (col("n_new") + 1).cast("double")
        / (col("t_new") + col("k")).cast("double"))
      .withColumn("lnq", graft.api.Det.quantize(
        log(col("p_new") / col("p_old")), 9))
      .withColumn("termq", graft.api.Det.quantize(
        (col("p_new") - col("p_old")) * (col("lnq") / lit(1e9)), 9)
        .cast("long"))
      .localCheckpoint()
    val total = terms.agg((sum(col("termq")) / lit(1e9)).as("psi"))
      .withColumn("band",
        when(col("psi") < PsiModerate, "stable")
          .when(col("psi") < PsiMajor, "moderate")
          .otherwise("major"))
    terms.crossJoin(broadcast(total))
      .select(col("cell"), col("n_old"), col("n_new"),
        (col("termq") / lit(1e9)).as("psi_term"), col("psi"), col("band"))
      .orderBy("cell")
  }

  /** Filtered vector search — the named hard problem of production vector
    * stores (every serving stack grows a metadata predicate the moment two
    * tenants or languages share an index): top-k among only the vectors
    * whose DOCUMENT metadata satisfies the query's predicate — here
    * lang(candidate) = lang(query), the language-scoped retrieval shape.
    * The filter is applied at CANDIDATE GENERATION (pre-filtering), not
    * after the rank: post-filtering a top-k returns < k (often 0) rows
    * whenever the filter is selective, the classic filtered-ANN failure.
    * Truth = exact cosine top-10 over the SAME filtered corpus; each
    * served row carries hit = truth membership, so the result is its own
    * recall grade (the `ann_*_recall` / `multimodal_text_to_asset`
    * convention).
    *
    * Scale shape: metadata rides the index entry — the lang column joins
    * the corpus once at index-build time (at 100 TB the index is WRITTEN
    * partitioned by (lang, bucket), so the probe prunes to the tenant's
    * partitions and the filter costs zero at serve time); the probe scan
    * stays the LSH contract (~3.5% of the filtered partition at 8
    * planes + 1-bit multi-probe). Determinism: the shared ordered-fold
    * cosine, ties (cosine desc, vec_id), boolean hit from a truth
    * left join.
    */
  val filteredTopk: GraftQuery = GraftQuery(
    "ann_filtered_topk",
    "filtered vector search: LSH multi-probe top-10 under a lang metadata predicate (pre-filtered candidates), hit-graded vs the exact filtered truth",
    SimOracle.filteredTopkSql) { (s, d) =>
    val meta = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val v = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
      .join(meta, col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("v"), col("nrm"), col("lang"))
      .withColumn("bucket", lshBucket(col("v")))
      .localCheckpoint(eager = false) // read by the serve AND truth paths
    val q = broadcast(v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("lang").as("qlang"), col("bucket")))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), col("vec_id"))
    val served = q
      .select(col("qid"), col("qv"), col("qnrm"), col("qlang"),
        explode(probeBuckets(col("bucket"))).as("probe"))
      .join(v, col("bucket") === col("probe")
        && col("vec_id") =!= col("qid") && col("lang") === col("qlang"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("vec_id"), col("cosine"))
    val truth = q.drop("bucket")
      .join(v, col("lang") === col("qlang") && col("vec_id") =!= col("qid"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .withColumn("tr", row_number().over(w))
      .filter(col("tr") <= 10)
      .select(col("qid").as("tqid"), col("vec_id").as("tvec"))
    served
      .join(truth, col("qid") === col("tqid") && col("vec_id") === col("tvec"),
        "left")
      .select(col("qid"), col("rn"), col("vec_id"), col("cosine"),
        col("tvec").isNotNull.as("hit"))
      .orderBy("qid", "rn")
  }

  /** Cosine threshold for [[rangeSearch]] — p99 of the corpus pair-cosine
    * distribution, so in-range sets stay O(1%) of the corpus per query.
    */
  val RangeTau = 0.3

  /** Range search (faiss `range_search`): ALL neighbors within a cosine
    * radius, not a fixed k — the dedup/recall-sweep primitive top-k can't
    * express (a top-10 under-reports a dense neighborhood and pads a
    * sparse one). Served from the LSH multi-probe buckets; the exact
    * in-range count rides each row, so coverage = served/exact is the
    * honest per-query grade of what multi-probe misses at the radius
    * (the fused-recall convention, aggregated because the result SET —
    * not a rank list — is the output here).
    *
    * Scale shape: the exact side is one broadcast-query corpus pass
    * (the bruteforce contract — it is the TRUTH artifact, priced like
    * every `ann_*_recall`); the served side scans only probed buckets.
    * Both sides reduce to per-query counts before the join — nothing
    * row-sized leaves the aggregation. Determinism: counts are exact
    * longs over bit-identical cosines; coverage divides the two longs;
    * the >= tau comparison uses the same double literal on both engines.
    */
  val rangeSearch: GraftQuery = GraftQuery(
    "ann_range_search",
    s"range search: all neighbors with cosine >= $RangeTau via LSH multi-probe, coverage-graded vs the exact in-range count",
    SimOracle.rangeSearchSql) { (s, d) =>
    val v = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
      .withColumn("bucket", lshBucket(col("v")))
      .localCheckpoint(eager = false)
    val qb = broadcast(v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket")))
    val exact = qb.drop("bucket")
      .join(v, col("vec_id") =!= col("qid"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .filter(col("cosine") >= lit(RangeTau))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
    val servedAgg = qb
      .select(col("qid"), col("qv"), col("qnrm"),
        explode(probeBuckets(col("bucket"))).as("probe"))
      .join(v, col("bucket") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
      .filter(col("cosine") >= lit(RangeTau))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_served"))
    // plain (un-hinted) spine: the broadcast hint is for the corpus-side
    // probe joins above; a left join can't build its LEFT side anyway
    v.filter(col("vec_id") % 100 === 0).select(col("vec_id").as("qid"))
      .join(exact, Seq("qid"), "left")
      .join(servedAgg, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_served"), lit(0L)).as("n_served"),
        when(coalesce(col("n_exact"), lit(0L)) === 0L, lit(null))
          .otherwise(coalesce(col("n_served"), lit(0L))
            / coalesce(col("n_exact"), lit(0L))).as("coverage"))
      .orderBy("qid")
  }

  def all: Seq[GraftQuery] =
    Seq(bruteforce, lshTopk, lshRecall, binaryHamming, binaryRecall,
      graphTopk, graphRecall, driftPsi,
      filteredTopk, rangeSearch,
      graphIncremental, nearDupPairs, labelCentroids,
      retrieval, vectorStats, ivfTopk, ivfRecall, ivfAdaptive, int8Quant,
      kmeans,
      semanticDedup, dimTruncation, hybridSearch, chunkHybrid, pqTopk,
      pqRecall,
      clusterTopics, ivfpqTopk, ivfpqRerank, ivfpqPersisted,
      ivfpqIncremental, ivfpqDeleted,
      matryoshkaRerank, matryoshkaRecall, matryoshkaAdaptive, pcaPower,
      contrastiveNegatives,
      centroidOutliers, silhouette, knnLabelAccuracy, crosslingualPairs,
      mmrRerank,
      semanticClusters, lateInteraction)
}
