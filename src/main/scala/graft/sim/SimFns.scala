package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector primitives over `embeddings.embedding` (ArrayType(FloatType), 64
  * dims). Determinism contract: every reduction is an ORDERED left fold —
  * Spark `aggregate(...)` and DuckDB `list_reduce(...)` both add in index
  * order, and the per-index products are identical IEEE754 doubles, so
  * cosine scores are bit-identical between engines (a commutative SUM over
  * unnested elements would not be).
  */
object SimFns {

  val Dims = 64
  val NumPlanes = 8 // 256 LSH buckets

  /** Coarse-quantizer sizing for the Lloyd's k-means training
    * ([[SimQueries.kmeans]]): k GROWS WITH THE CORPUS,
    * k = max([[KmeansKFloor]], ceil(n / [[TargetCellSize]])), so expected
    * cell occupancy stays ~[[TargetCellSize]] at every corpus size. (This
    * is a CELL-OCCUPANCY contract, deliberately more aggressive than
    * FAISS's own nlist ~ c*sqrt(n) guidance: the intra-cell pair joins
    * below need bounded cells, not balanced probe cost.) This is what
    * keeps every intra-cell pair join (SemDeDup, bitext mining, hard
    * negatives, the funnel's semantic stage) LINEAR in n: pair space is
    * bounded by n * (max cell occupancy) ~ n * c*TargetCellSize instead
    * of the n^2/k a fixed k degrades to at 100x data. The identical
    * formula is computed IN SQL by the oracle (a scalar-subquery CTE over
    * the same scan — [[SimOracle.kmeansChain]]'s `kn`), so both engines
    * derive k from the data rather than from a constant. SimSpec pins the
    * cell-occupancy bound. Leaf-object constants so SimQueries and
    * SimOracle can both read them without an init-order cycle (see the
    * note on [[graft.text.TextOracle]]).
    *
    * Training is HIERARCHICAL so linear-in-n k never produces
    * quadratic-in-k training work (total O(n + SampleMult*k^1.5*Dims)):
    *   - STAGE A trains k1 = ceil(sqrt(k)) ANCHORS: [[KmeansIters]]
    *     Lloyd sweeps over a content-hash-THRESHOLD sample of expected
    *     m1 = min(n, [[KmeansSampleMult]]*k1) vectors
    *     (hash60(vec_id) % n < m1 — a pure per-row filter, the
    *     doc_splits selector; no global sort, no single-partition
    *     top-m). Per sweep O(m1*k1*Dims) = O(SampleMult*k*Dims).
    *   - STAGE B trains each anchor's sub-centroids IN PARALLEL (one
    *     dataframe job, grouped by anchor): the expected
    *     m = min(n, SampleMult*k) hash-threshold sample is assigned to
    *     its nearest trained anchor (O(m*k1)), capped at
    *     SampleMult * ka rows per anchor (ka = k/k1 +- 1, the anchor's
    *     sub-centroid budget; cap rank = (md5(vec_id), vec_id) within
    *     the group), then [[KmeansIters]] sweeps argmin each sampled
    *     vector over ITS OWN anchor's ka-centroid group only — per
    *     sweep sum_a (SampleMult*ka)*ka <= SampleMult*k^1.5 distances,
    *     never the flat m*k = SampleMult*k^2.
    *   - The FINAL full-corpus assignment is TWO-LEVEL (the FAISS
    *     coarse-quantizer-over-the-quantizer slot): each vector maps to
    *     its nearest LIVE trained anchor (n*k1) and then argmins over
    *     just that anchor's own sub-centroid group (~k/k1) —
    *     O(n*sqrt(k)) total, and the per-vector broadcast is k1 anchors
    *     (sqrt growth), not the full k*Dims centroid array. Assignment
    *     is approximate in the standard IVF sense (the chosen cell may
    *     be a near-nearest rather than the global argmin); every
    *     consumer needs a CONSISTENT partition, not the exact argmin,
    *     and the oracle ([[SimOracle.kmeansChain]]) derives the
    *     identical hierarchy in SQL — same sizes, same hash selectors,
    *     same argmin expression shapes — so both engines agree
    *     bit-for-bit.
    */
  val KmeansKFloor = 8
  val TargetCellSize = 64
  val KmeansIters = 3

  /** Training-sample multiplier: expected m = min(n, KmeansSampleMult*k)
    * vectors feed the stage-B Lloyd sweeps (~SampleMult points per
    * centroid); same multiplier sizes the stage-A anchor sample and the
    * per-anchor group caps.
    */
  val KmeansSampleMult = 8

  /** k for a corpus of n vectors (see [[KmeansKFloor]]). */
  def kmeansK(n: Long): Int =
    math.max(KmeansKFloor, math.ceil(n.toDouble / TargetCellSize).toInt)

  /** Anchor count for the hierarchy: ceil(sqrt(k)). */
  def kmeansK1(k: Int): Int = math.ceil(math.sqrt(k.toDouble)).toInt

  /** Expected stage-B training-sample size for a corpus of n vectors. */
  def kmeansSampleM(n: Long): Int =
    math.min(n, KmeansSampleMult.toLong * kmeansK(n)).toInt

  /** Expected stage-A anchor-sample size: min(n, SampleMult*k1). */
  def kmeansAnchorSampleM(n: Long): Int =
    math.min(n, KmeansSampleMult.toLong * kmeansK1(kmeansK(n))).toInt

  /** Product-quantization geometry ([[SimQueries.pqTopk]]): PqM subspaces
    * of Dims/PqM dims each, PqK codewords per subspace (init: the PqK
    * lowest vec_ids' sub-vectors, the [[kmeansK]] init convention), PqIters
    * Lloyd sweeps per codebook. 4x8 codes store a 64-dim vector in 4
    * 3-bit symbols — the compression that lets a 100 TB vector corpus
    * live in executor memory as codes while full vectors stay on disk.
    */
  val PqM = 4
  val PqSub = Dims / PqM // 16
  val PqK = 8
  val PqIters = 2

  /** SemDeDup candidate threshold ([[SimQueries.semanticDedup]]): this
    * corpus's embeddings are synthetic (intra-cell cosines top out ~0.5),
    * so the screen is set in the semantic-redundancy band rather than the
    * 0.9+ near-identity band a production pass would use.
    */
  val SemDedupCosine = 0.35

  /** Float array -> double array (exact widening). */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Ordered-fold dot product of two double arrays, via the native
    * codegen'd [[graft.functions.VecDot]] expression (bit-identical to
    * the composed `aggregate(zip_with(..))` fold — FunctionsSpec asserts
    * it — but one fused loop instead of interpreted lambdas plus an
    * intermediate array). Every registry frame ([[graft.api.GraftQuery]])
    * registers the function in its session; code outside the registry
    * calls [[graft.functions.GraftFunctions.register]] first.
    */
  def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  /** The composed higher-order-function form of [[dot]] — kept as the
    * differential-testing twin for the native expression.
    */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Deterministic pseudo-random hyperplanes for sign-LSH, embedded as
    * LITERALS on both the Spark and DuckDB sides (no runtime hashing):
    * 3-decimal rationals in [-1, 1), so the decimal->double parse is
    * identical everywhere.
    */
  val Planes: Array[Array[Double]] =
    Array.tabulate(NumPlanes, Dims) { (j, i) =>
      ((((j * Dims + i + 1) * 2654435761L) % 2001) - 1000) / 1000.0
    }

  private def planeCol(j: Int): Column =
    array(Planes(j).toIndexedSeq.map(lit): _*)

  /** Sign-LSH bucket id in [0, 2^NumPlanes): bit j = sign(v . plane_j).
    * Same-bucket vectors are ANN candidates; at scale this is the shuffle
    * key that replaces the O(n^2) all-pairs comparison.
    */
  def lshBucket(v: Column): Column =
    (0 until NumPlanes).map { j =>
      when(dot(v, planeCol(j)) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Multi-probe set: the bucket itself plus every 1-bit-flip neighbor
    * (NumPlanes+1 probes). A near neighbor lands in a different bucket only
    * when some plane separates the pair; with unit-ish margins most
    * separations flip exactly one sign bit, so probing Hamming-1 buckets
    * recovers most of the recall a finer bucketing loses — the standard
    * multi-probe LSH trade (9 probes instead of 16x coarser buckets). The
    * probe values are distinct, so an equality join on (bucket = probe)
    * meets each candidate at most once — no dedup pass needed.
    */
  def probeBuckets(bucket: Column): Column =
    array((bucket +: (0 until NumPlanes).map(j =>
      bucket.bitwiseXOR(lit(1 << j)))): _*)
}
