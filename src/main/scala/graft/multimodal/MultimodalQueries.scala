package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.GraftQuery

/** Multimodal-column plumbing: image/audio/video as opaque BINARY payloads
  * with a typed metadata struct, plus decode / feature-extract / frame-
  * sample operators.
  *
  * The corpus has no real media, so each document's bytes are ENCODED into
  * a genuine binary image format — netpbm PGM (P5): an ASCII
  * `P5 <w> <h> <maxval>` header followed by the w x h raster, with the
  * document's UTF-8 bytes as the pixel grid. The decode path is then REAL:
  * [[graft.functions.DecodePgm]] parses the header, validates it, and
  * materializes the pixel array (malformed -> NULL, as a production
  * decoder must), all inside WholeStageCodegen — rows never cross the
  * encoder boundary. Feature extraction and thumbnailing run over the
  * DECODED pixels. A codec needing a native lib (JPEG, audio) would swap
  * in at the same column as `mapPartitions`/`mapInPandas`; the
  * byte-histogram expression ([[graft.functions.ByteHistogram]]) remains
  * as the format-agnostic fallback path (perceptual bucketing uses it —
  * pHash-style codes do not require a decodable payload).
  */
object MultimodalQueries {

  /** The media view: payload BINARY + media_type + typed metadata struct +
    * the PGM-encoded image (`pgm`). Spark `cast(string as binary)` = UTF-8
    * bytes = DuckDB `CAST(text AS BLOB)`, so byte lengths and checksums
    * agree; the PGM raster is the first `width * floor(n_bytes/width)`
    * payload bytes, so every pixel is one document byte and the DuckDB
    * twins can recompute pixel math from `text` characters (pure-ASCII
    * corpus).
    */
  def media(s: SparkSession, d: String): DataFrame =
    mediaFrame(Tables.documents(s, d))

  /** The media transform over any (doc_id, text, source) frame — factored
    * so fixture specs can plant crafted payloads ([[textToAssetFrame]]).
    */
  private[graft] def mediaFrame(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        col("text").cast("binary").as("payload"),
        col("source"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .withColumn("meta", struct(
        (lit(64) + col("doc_id") % 7).cast("int").as("width"),
        (lit(48) + col("doc_id") % 5).cast("int").as("height"),
        (lit(8000) + (col("doc_id") % 3) * 4000).cast("int").as("sample_rate"),
        (col("n_bytes") / lit(100.0)).as("duration_s")))
      .withColumn("pgm_h",
        floor(col("n_bytes") / col("meta.width")).cast("int"))
      .withColumn("pgm", concat(
        concat(lit("P5\n"), col("meta.width").cast("string"), lit(" "),
          col("pgm_h").cast("string"), lit("\n255\n")).cast("binary"),
        col("payload").substr(lit(1), col("meta.width") * col("pgm_h"))))

  /** Catalog projection: struct-field pruning + per-type stats. */
  val catalog: GraftQuery = GraftQuery(
    "multimodal_catalog",
    "binary payload + metadata struct: per-type size/duration rollup",
    MultimodalOracle.catalogSql) { (s, d) =>
    media(s, d)
      .groupBy(col("media_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_bytes")).as("total_bytes"),
        min(col("meta.width")).as("min_width"),
        max(col("meta.sample_rate")).as("max_sample_rate"),
        (sum(graft.api.Det.quantize(col("meta.duration_s"))) /
          lit(graft.api.Det.pow10(4))).as("total_duration_s"))
      .orderBy("media_type")
  }

  /** Frame sampling for "video" payloads: every 10th frame of a derived
    * frame count — vectorized explode(sequence), one output row per kept
    * frame, fully distributed.
    */
  val frameSample: GraftQuery = GraftQuery(
    "multimodal_frame_sample",
    "video frame sampling: explode(sequence) every 10th frame + frame ts",
    MultimodalOracle.frameSampleSql) { (s, d) =>
    media(s, d)
      .filter(col("media_type") === "video")
      .withColumn("n_frames", (col("n_bytes") % 96 + lit(5)).cast("int"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(10))))
      .select(
        col("doc_id"),
        col("n_frames"),
        col("frame_idx"),
        (col("frame_idx") / lit(24.0)).as("frame_ts_s"))
      .orderBy("doc_id", "frame_idx")
  }

  /** REAL DECODE + feature extraction: [[graft.functions.DecodePgm]]
    * parses each asset's PGM payload — magic, ASCII dimensions, raster —
    * and the features are statistics of the DECODED pixel grid: decoded
    * width/height, pixel count, mean/min/max intensity, and
    * maxval-normalized contrast. One fused codegen span per row (PlanSpec
    * pins: no DeserializeToObject, decode_pgm present); assets whose
    * payload decodes to zero pixels (document shorter than one raster
    * row) are skipped, as a decoder pipeline would quarantine them. Pixel
    * sums are exact integer folds, so every output double is a single
    * exact IEEE754 division — bit-identical to the DuckDB twin that
    * recomputes the same arithmetic from the document characters.
    */
  val features: GraftQuery = GraftQuery(
    "multimodal_features",
    "real PGM decode via native decode_pgm: dimensions + pixel stats per asset",
    MultimodalOracle.featuresSql) { (s, d) =>
    media(s, d)
      .withColumn("img", call_function("decode_pgm", col("pgm")))
      .select(col("doc_id"), col("media_type"),
        col("img.width").as("width"), col("img.height").as("height"),
        size(col("img.pixels")).as("n_pixels"),
        aggregate(col("img.pixels"), lit(0L), (acc, x) => acc + x).as("px_sum"),
        array_min(col("img.pixels")).as("px_min"),
        array_max(col("img.pixels")).as("px_max"),
        col("img.maxval").as("maxval"))
      .filter(col("n_pixels") > 0)
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("n_pixels"),
        (col("px_sum") / col("n_pixels")).as("px_mean"),
        col("px_min"), col("px_max"),
        ((col("px_max") - col("px_min")) / col("maxval")).as("contrast"))
      .orderBy("doc_id")
  }

  /** Perceptual near-dup bucketing over the DECODED features — the
    * multimodal analogue of SimHash banding: each payload's byte histogram
    * (the same native [[graft.functions.ByteHistogram]] decode as
    * `multimodal_features`) is quantized to a coarse 16-digit code
    * (floor(h_k*64+0.5)), payloads sharing a code are near-dup candidates,
    * and candidate generation is a plain groupBy on the code — the pair
    * space is never materialized (same inverted-bucket discipline as every
    * other dedup operator). With a real image decoder the histogram
    * becomes a pHash and the query is byte-for-byte the production
    * perceptual-dedup shape.
    */
  val phashBuckets: GraftQuery = GraftQuery(
    "multimodal_phash_buckets",
    "perceptual dedup: quantized byte-histogram codes, buckets with >1 asset",
    MultimodalOracle.phashBucketsSql) { (s, d) =>
    media(s, d)
      .withColumn("features", call_function("byte_histogram", col("payload")))
      .withColumn("sig", array_join(
        transform(col("features"),
          h => floor(h * lit(64.0) + lit(0.5)).cast("long").cast("string")),
        "-"))
      .groupBy(col("media_type"), col("sig"))
      .agg(
        count(lit(1)).as("n_assets"),
        min(col("doc_id")).as("keep_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_assets") > 1)
      .orderBy(desc("n_assets"), col("media_type"), col("sig"))
      .limit(20)
  }

  /** Thumbnail width: the resampled sample count per asset. */
  val ThumbWidth = 32

  /** REAL RESAMPLE: decode the PGM payload and box-resample the pixel
    * stream to [[ThumbWidth]] samples — thumb[j] is the exact mean of the
    * source pixels in [floor(j*N/W), floor((j+1)*N/W)), the classic box
    * filter over the raster scan order (1-D on purpose: audio/video
    * payloads are genuinely 1-D streams, and image rows concatenate in
    * raster order — the downsampled means are real decoded-pixel
    * statistics either way). Assets with fewer than [[ThumbWidth]] pixels
    * are skipped (nothing to downsample INTO 32 buckets). Integer sums +
    * one exact division per bucket — bit-identical to the DuckDB twin.
    * Still a narrow map plan: decode + 32 slice-folds, no shuffle before
    * the presentation sort (PlanSpec pins it).
    */
  val thumbnail: GraftQuery = GraftQuery(
    "multimodal_thumbnail",
    s"real thumbnail: $ThumbWidth-sample box resample of the decoded PGM pixel stream",
    MultimodalOracle.thumbnailSql) { (s, d) =>
    val n = size(col("img.pixels"))
    val thumbs = (0 until ThumbWidth).map { j =>
      val lo = floor((n * lit(j)) / lit(ThumbWidth.toDouble)).cast("int")
      val hi = floor((n * lit(j + 1)) / lit(ThumbWidth.toDouble)).cast("int")
      (aggregate(slice(col("img.pixels"), lo + lit(1), hi - lo),
        lit(0L), (acc, x) => acc + x) / (hi - lo)).as(s"t$j")
    }
    media(s, d)
      .withColumn("img", call_function("decode_pgm", col("pgm")))
      .filter(size(col("img.pixels")) >= ThumbWidth)
      .select(col("doc_id") +: col("media_type") +:
        size(col("img.pixels")).cast("long").as("n_pixels_in") +: thumbs: _*)
      .orderBy("doc_id")
  }

  /** Thumbnail near-dup banding/threshold: band = the first
    * [[NeardupBandW]] thumbnail samples coarse-quantized by
    * [[NeardupBandQ]]; band population capped at [[NeardupBandCap]]
    * (the dedup family's DF-cap convention); pairs report mean absolute
    * sample difference and keep those <= [[NeardupMaxDist]].
    */
  val NeardupBandW = 4
  val NeardupBandQ = 32.0
  val NeardupBandCap = 64
  val NeardupMaxDist = 8.0

  /** Visual near-duplicate mining over DECODED pixels — the dedup family
    * applied to the media column: each asset's [[ThumbWidth]]-sample box
    * thumbnail (real decoded-pixel statistics, the [[thumbnail]]
    * operator's feature) is the perceptual signature; candidates are
    * restricted to a coarse-quantized band of the first samples (exact
    * duplicates and near-variants land in the same band; the cap bounds
    * any hot band, so the pair space is linear in assets — the
    * [[graft.dedup.DedupQueries]] inverted-index contract on a media
    * axis), then verified by the exact mean |sample diff| and kept under
    * [[NeardupMaxDist]]. (The corpus's duplicated TEXTS do not read back
    * L1 = 0 here: the per-asset width (doc_id % 7) truncates each raster
    * differently, so even identical payloads thumbnail slightly apart —
    * the top pairs sit at mean diffs of ~2-3 gray levels, genuine
    * near-dups under real decode geometry.)
    *
    * Determinism: thumbnail samples are exact integer-sum/count
    * divisions; the L1 fold is an ordered left fold over the
    * [[ThumbWidth]] samples mirrored term-for-term by the oracle's
    * parenthesized sum; the per-pair mean is quantized to 1e-9 before
    * the threshold and ordering.
    */
  val thumbnailNeardup: GraftQuery = GraftQuery(
    "multimodal_thumbnail_neardup",
    s"visual near-dup: banded thumbnail candidates, mean |sample diff| <= $NeardupMaxDist, top-20",
    MultimodalOracle.thumbnailNeardupSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val n = size(col("img.pixels"))
    val tArr = array((0 until ThumbWidth).map { j =>
      val lo = floor((n * lit(j)) / lit(ThumbWidth.toDouble)).cast("int")
      val hi = floor((n * lit(j + 1)) / lit(ThumbWidth.toDouble)).cast("int")
      aggregate(slice(col("img.pixels"), lo + lit(1), hi - lo),
        lit(0L), (acc, x) => acc + x) / (hi - lo)
    }: _*)
    val t = media(s, d)
      .withColumn("img", call_function("decode_pgm", col("pgm")))
      .filter(size(col("img.pixels")) >= ThumbWidth)
      .select(col("doc_id"), col("media_type"), tArr.as("t"))
      .withColumn("band", array_join(
        transform(slice(col("t"), 1, NeardupBandW),
          x => floor(x / lit(NeardupBandQ)).cast("long").cast("string")),
        "-"))
    val capped = t
      .withColumn("bn", count(lit(1))
        .over(Window.partitionBy(col("media_type"), col("band"))))
      .filter(col("bn") <= NeardupBandCap)
      .drop("bn")
      .localCheckpoint()
    capped.as("a")
      .join(capped.as("b"),
        col("a.media_type") === col("b.media_type")
          && col("a.band") === col("b.band")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.media_type").as("media_type"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (floor(aggregate(
          zip_with(col("a.t"), col("b.t"), (x, y) => abs(x - y)),
          lit(0.0), (acc, v) => acc + v) / lit(ThumbWidth.toDouble)
          * lit(1e9) + lit(0.5)) / lit(1e9)).as("mean_abs_diff"))
      .filter(col("mean_abs_diff") <= NeardupMaxDist)
      .orderBy(col("mean_abs_diff"), col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Adjacent-pixel |difference| at/above this counts as an edge. */
  val EdgeThreshold = 16

  /** 2-D gradient statistics over the DECODED pixel GRID — the first
    * operator that uses the decoded WIDTH as geometry, not just a pixel
    * stream: horizontal neighbor differences are computed within each
    * raster row (pairs straddling a row boundary are excluded — exactly
    * h x (w-1) valid pairs), giving mean/max gradient and an
    * edge-density fraction per asset. The blur/quality screen an image
    * ingest pipeline runs (flat assets -> suspect). Same contract as
    * [[features]]: one fused codegen span, exact integer folds, one IEEE
    * division per output double, malformed/short payloads skipped.
    */
  /** Row-aware horizontal neighbor |differences| of a decoded pixel grid:
    * left-pixel 1-based index i in 1..N-1, pairs straddling a row end
    * (i % w == 0) excluded — exactly h x (w-1) values. Factored so the
    * spec can drive it over a handcrafted grid.
    */
  def rowDiffs(px: org.apache.spark.sql.Column,
      w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(
      // a 1-pixel grid must yield [], not sequence(1,0)'s descending
      // [1,0] — guard so the helper is safe for ANY input, not only
      // decode_pgm's pixels.length == w*h invariant
      transform(
        when(size(px) >= 2, sequence(lit(1), size(px) - 1))
          .otherwise(array().cast("array<int>")),
        i => when(i % w === 0, lit(null).cast("int"))
          .otherwise(abs(element_at(px, i + 1) - element_at(px, i)))),
      x => x.isNotNull)

  val gradients: GraftQuery = GraftQuery(
    "multimodal_gradients",
    "2-D decoded-grid gradients: row-aware mean/max + edge fraction per asset",
    MultimodalOracle.gradientsSql) { (s, d) =>
    media(s, d)
      .withColumn("img", call_function("decode_pgm", col("pgm")))
      .filter(size(col("img.pixels")) > 0)
      .withColumn("diffs", rowDiffs(col("img.pixels"), col("img.width")))
      .select(col("doc_id"), col("media_type"),
        col("img.width").as("width"), col("img.height").as("height"),
        size(col("diffs")).cast("long").as("n_diffs"),
        (aggregate(col("diffs"), lit(0L), (a, x) => a + x) /
          size(col("diffs"))).as("mean_grad"),
        array_max(col("diffs")).as("max_grad"),
        (size(filter(col("diffs"), x => x >= EdgeThreshold)) /
          size(col("diffs"))).as("edge_frac"))
      .orderBy("doc_id")
  }

  /** 1-D signal features for the "audio" assets — the waveform-statistics
    * slot (VAD/silence screens, loudness normalization): the decoded byte
    * stream read as unsigned 8-bit PCM centered at 128, yielding
    * zero-crossing rate (fraction of adjacent samples straddling the
    * midline), RMS amplitude, and peak deviation. Same decode column and
    * contract as [[features]]: exact integer folds, one IEEE division /
    * sqrt per output, fused codegen, short payloads skipped.
    */
  val audioFeatures: GraftQuery = GraftQuery(
    "multimodal_audio_features",
    "audio-asset 1-D signal stats: zero-crossing rate, RMS, peak (8-bit PCM read)",
    MultimodalOracle.audioFeaturesSql) { (s, d) =>
    val px = col("img.pixels")
    val n = size(px)
    val crossings = size(filter(
      transform(sequence(lit(1), n - 1),
        i => (element_at(px, i) >= 128) =!= (element_at(px, i + 1) >= 128)),
      x => x))
    media(s, d)
      .filter(col("media_type") === "audio")
      .withColumn("img", call_function("decode_pgm", col("pgm")))
      .filter(size(col("img.pixels")) >= 2)
      .select(col("doc_id"),
        n.cast("long").as("n_samples"),
        (crossings.cast("double") / (n - 1)).as("zcr"),
        sqrt(aggregate(px, lit(0L),
          (a, x) => a + (x - 128).cast("long") * (x - 128)) / n).as("rms"),
        greatest(array_max(px) - 128, lit(128) - array_min(px)).as("peak"))
      .orderBy("doc_id")
  }

  /** Per-sample mean-luma jump (0-255 scale) at/above which two adjacent
    * frames are a scene CUT.
    */
  val CutThreshold = 8

  /** Scene-cut detection for the video assets — the shot-boundary pass a
    * video ingest pipeline runs before frame sampling (sample per SHOT,
    * not per fixed stride, or a long static shot floods the batch):
    * each raster ROW of the decoded grid is read as one frame of `width`
    * samples; per-frame integer luma sums fold inside the decode span,
    * and a cut fires where adjacent frames' mean differs by >=
    * [[CutThreshold]] — tested in EXACT integers as
    * |sum_i − sum_{i−1}| >= threshold * width, so no double enters the
    * decision. Reports cuts, max and mean inter-frame deltas per asset.
    * Same contract as [[gradients]]: narrow map plan, one IEEE division
    * per reported double, short/malformed payloads skipped.
    */
  val sceneCuts: GraftQuery = GraftQuery(
    "multimodal_scene_cuts",
    s"video shot boundaries: per-frame(row) luma sums, cut at mean-delta >= $CutThreshold, exact-integer test",
    MultimodalOracle.sceneCutsSql) { (s, d) =>
    val px = col("img.pixels")
    val w = col("img.width")
    val h = col("img.height")
    val rowSums = transform(sequence(lit(0), h - 1),
      r => aggregate(slice(px, r * w + 1, w), lit(0L), (a, x) => a + x))
    media(s, d)
      .filter(col("media_type") === "video")
      .withColumn("img", call_function("decode_pgm", col("pgm")))
      .filter(col("img.height") >= 2)
      .withColumn("rs", rowSums)
      .withColumn("deltas", transform(sequence(lit(1), h - 1),
        i => abs(element_at(col("rs"), i + 1) - element_at(col("rs"), i))))
      .select(col("doc_id"), h.as("n_frames"), w.as("frame_width"),
        size(filter(col("deltas"),
          x => x >= lit(CutThreshold.toLong) * w)).cast("long").as("n_cuts"),
        (array_max(col("deltas")) / w).as("max_delta"),
        (aggregate(col("deltas"), lit(0L), (a, x) => a + x) /
          ((h - 1) * w)).as("mean_abs_delta"))
      .orderBy("doc_id")
  }

  /** Cosine below which a near-dup TEXT pair's embeddings are declared
    * inconsistent — duplicated text should embed nearby; a pair under
    * this line has a broken modality (stale vector, wrong join key, bad
    * encoder shard). Shared by query, oracle, and spec.
    */
  val CrossModalCosine = 0.5

  /** Cross-modal consistency screen — the join-integrity audit a
    * multimodal training pipeline runs before packing parallel columns:
    * the corpus ships `documents` and `embeddings` keyed by the same id,
    * and this operator grades that contract as a first-class artifact.
    * Checks, one tidy (check, lang, n) row group each:
    *   - `doc_total`: per-language doc counts (the always-present
    *     denominator row group);
    *   - `doc_no_vec` / `vec_no_doc`: orphans on either side of the id
    *     join (anti-joins — at 100 TB these are one id-keyed shuffle
    *     each, no payload columns move);
    *   - `dup_pair`: near-dup text pairs (J >= [[DedupQueries
    *     .ClusterJaccard]] from the existing DF-capped 3-gram miner),
    *     attributed to doc_a's language;
    *   - `dup_pair_disagree`: those pairs whose embedding cosine is
    *     below [[CrossModalCosine]] — text says duplicate, vectors say
    *     strangers: the mismatched-modality signal.
    * On the healthy corpus every orphan/disagree count is absent (no
    * rows) — the ZEROS are the assertion, same contract as
    * `dedup_exact_summary`; the fixture spec plants one violation of
    * each kind and watches the rows appear. The pair space is the capped
    * Jaccard frame's (linear in corpus, never all-pairs), and the cosine
    * join touches only dup-pair ids — at scale the screen's cost is the
    * dedup mine it reuses plus two orphan anti-joins.
    */
  val crossmodalConsistency: GraftQuery = GraftQuery(
    "crossmodal_consistency",
    "cross-modal audit: doc/vector join orphans + near-dup text pairs with disagreeing cosine",
    MultimodalOracle.crossmodalSql) { (s, d) =>
    crossmodalFrame(Tables.documents(s, d), Tables.embeddings(s, d),
      Some(graft.dedup.DedupQueries.sharedNgramPairs(s, d)))
  }

  /** The audit over any (doc_id, lang, text) + (vec_id, embedding) pair of
    * frames, so the fixture spec can plant orphans and disagreeing pairs.
    */
  private[graft] def crossmodalFrame(docsIn: DataFrame, embIn: DataFrame,
      pairsOpt: Option[DataFrame] = None): DataFrame = {
    import graft.sim.SimFns
    import graft.dedup.DedupQueries
    val docs = docsIn.select(col("doc_id"), col("lang"))
    val vecs = embIn
      .select(col("vec_id"), SimFns.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", SimFns.norm(col("v")))
    def row(check: String, lang: Column, n: Column) =
      Seq(lit(check).as("check"), lang.as("lang"), n.as("n"))
    val docTotal = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .select(row("doc_total", col("lang"), col("n")): _*)
    val docNoVec = docs
      .join(vecs.select(col("vec_id")), col("doc_id") === col("vec_id"), "left_anti")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .select(row("doc_no_vec", col("lang"), col("n")): _*)
    // a vector orphan has no document and therefore no language
    val vecNoDoc = vecs.select(col("vec_id"))
      .join(docs, col("vec_id") === col("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(row("vec_no_doc", lit("(none)"), col("n")): _*)
    val dupPairs = pairsOpt.getOrElse(DedupQueries.ngramJaccardFrame(docsIn))
      .filter(col("jaccard") >= DedupQueries.ClusterJaccard)
      .join(docs.select(col("doc_id").as("doc_a"), col("lang").as("lang_a")), "doc_a")
      .localCheckpoint()
    val dupCount = dupPairs.groupBy(col("lang_a")).agg(count(lit(1)).as("n"))
      .select(row("dup_pair", col("lang_a"), col("n")): _*)
    val disagree = dupPairs
      .join(vecs.select(col("vec_id").as("va_id"), col("v").as("va"),
        col("nrm").as("na")), col("doc_a") === col("va_id"))
      .join(vecs.select(col("vec_id").as("vb_id"), col("v").as("vb"),
        col("nrm").as("nb")), col("doc_b") === col("vb_id"))
      .withColumn("cosine",
        SimFns.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") < lit(CrossModalCosine))
      .groupBy(col("lang_a")).agg(count(lit(1)).as("n"))
      .select(row("dup_pair_disagree", col("lang_a"), col("n")): _*)
    docTotal.unionByName(docNoVec).unionByName(vecNoDoc)
      .unionByName(dupCount).unionByName(disagree)
      .orderBy("check", "lang")
  }

  /** DFT bins analyzed by [[spectral]] (low-frequency, DC skipped). */
  val SpectralBins = 4

  /** Fixed DFT coefficient tables over the [[ThumbWidth]]-sample frame:
    * cos/−sin(2π k n / W) quantized to 1e-6 and shipped as LITERALS to
    * both engines (the [[graft.sim.SimFns.Planes]] recipe — decimal
    * parsing is correctly rounded everywhere, so both sides hold the
    * bit-identical double). k is 1-based (bin 0 is DC).
    */
  val SpectralCos: IndexedSeq[IndexedSeq[Double]] =
    IndexedSeq.tabulate(SpectralBins, ThumbWidth) { (k, n) =>
      math.floor(math.cos(2.0 * math.Pi * (k + 1) * n / ThumbWidth) * 1e6
        + 0.5) / 1e6
    }
  val SpectralSin: IndexedSeq[IndexedSeq[Double]] =
    IndexedSeq.tabulate(SpectralBins, ThumbWidth) { (k, n) =>
      math.floor(-math.sin(2.0 * math.Pi * (k + 1) * n / ThumbWidth) * 1e6
        + 0.5) / 1e6
    }

  /** SPECTRAL analysis of audio payloads — the real signal-processing
    * step after decode → resample: a [[SpectralBins]]-bin DFT over the
    * [[ThumbWidth]]-sample box-resampled frame ([[thumbnail]]'s
    * feature), per-bin power |X_k|² and the dominant bin — the
    * tone/rumble classifier an audio ingest pipeline runs (band energy
    * decides speech/music/noise routing before any model sees bytes).
    *
    * Determinism: thumbnail samples are exact integer-sum divisions;
    * the DFT is a LITERAL-coefficient linear form — each re/im is a
    * left-associated 32-term chain of (sample × quantized-literal)
    * products, mirrored term-for-term by the oracle (the
    * thumbnailNeardup parenthesized-sum discipline), so powers are
    * bit-identical raw doubles; the dominant-bin argmax breaks ties
    * toward the lower bin in the same CASE shape on both engines.
    * CrossModalSpec plants a pure bin-2 tone (each sample doubled so
    * the 2:1 box resample reproduces it exactly) and asserts the power
    * concentrates there.
    *
    * 100 TB shape: decode + resample + 8 linear forms fuse into one
    * narrow codegen span per row — no shuffle before the presentation
    * sort; a real FFT library would slot in at the same column via
    * mapInPandas, this is the engine-native exact path.
    */
  val spectral: GraftQuery = GraftQuery(
    "multimodal_spectral",
    s"audio DFT: $SpectralBins-bin power spectrum of the $ThumbWidth-sample resampled frame + dominant bin",
    MultimodalOracle.spectralSql) { (s, d) =>
    spectralFrame(media(s, d).filter(col("media_type") === "audio"))
  }

  /** The spectral derivation over any media-shaped frame — the fixture
    * seam for CrossModalSpec's planted-tone pin.
    */
  private[graft] def spectralFrame(assets: DataFrame): DataFrame = {
    val n = size(col("img.pixels"))
    val tCols = (0 until ThumbWidth).map { j =>
      val lo = floor((n * lit(j)) / lit(ThumbWidth.toDouble)).cast("int")
      val hi = floor((n * lit(j + 1)) / lit(ThumbWidth.toDouble)).cast("int")
      (aggregate(slice(col("img.pixels"), lo + lit(1), hi - lo),
        lit(0L), (acc, x) => acc + x) / (hi - lo)).as(s"t$j")
    }
    val base = assets
      .withColumn("img", call_function("decode_pgm", col("pgm")))
      .filter(size(col("img.pixels")) >= ThumbWidth)
      .select(col("doc_id") +: tCols: _*)
    def form(coef: IndexedSeq[Double]): Column =
      (0 until ThumbWidth).map(nn => col(s"t$nn") * lit(coef(nn)))
        .reduceLeft(_ + _)
    val powers = (0 until SpectralBins).map { k =>
      val re = form(SpectralCos(k))
      val im = form(SpectralSin(k))
      (re * re + im * im).as(s"p${k + 1}")
    }
    val withP = base.select(col("doc_id") +: powers: _*)
    val dom = when(col("p1") >= col("p2") && col("p1") >= col("p3")
        && col("p1") >= col("p4"), 1)
      .when(col("p2") >= col("p3") && col("p2") >= col("p4"), 2)
      .when(col("p3") >= col("p4"), 3)
      .otherwise(4)
    withP.select(col("doc_id"), col("p1"), col("p2"), col("p3"), col("p4"),
        dom.as("dominant_bin"))
      .orderBy("doc_id")
  }

  /** The fixed cross-modal text query ([[textToAsset]]): the BM25 terms
    * as one string; its byte-class histogram is the query vector.
    */
  val XmodalQuery: String = graft.text.TextQueries.Bm25Terms.mkString(" ")

  /** CROSS-MODAL retrieval: a TEXT query ranks MEDIA assets — the two
    * modalities meet in a shared signature space, the contract behind
    * CLIP-style retrieval, with the embedding model swapped for a
    * deterministic projection both sides can compute:
    *
    *   - ASSET side: each payload's byte-CLASS histogram over its DECODED
    *     pixels (pixel >> 2 — 64 classes == [[graft.sim.SimFns.Dims]],
    *     chosen so the ANN family's sign-LSH planes and Hamming-1 probe
    *     set apply VERBATIM to the asset space), assembled sparsely (one
    *     explode + a (doc, bin)-keyed partial agg + map-to-dense — the
    *     chunk_hybrid_search assembly; nothing dense shuffles);
    *   - TEXT side: the SAME projection of the query string's UTF-8
    *     bytes, computed driver-side (an independent third derivation of
    *     the histogram — the oracle recomputes it relationally from the
    *     literal, so a projection bug cannot cancel out);
    *   - SERVE path (the scale path): the query probes its LSH bucket +
    *     Hamming-1 neighbors and cosine-ranks only the bucketed
    *     candidates — per-query cost ∝ probed occupancy, the lshTopk
    *     contract, here across modalities;
    *   - TRUTH path: exact full-corpus cosine top-10 in the same space;
    *     each served row carries `hit` = membership in the exact top-10,
    *     so the result IS its own recall grade (the ann_*_recall
    *     convention, fused because there is one pinned query).
    *
    * Determinism: histogram fractions are exact small-int divisions,
    * cosine is the shared ordered left fold, every rank breaks ties on
    * doc_id; the oracle replays pixels from text characters (pure-ASCII
    * corpus, the pixelCte contract) and the planes as the same 3-decimal
    * literals. CrossModalSpec plants a fixture where the right asset wins
    * rank 1 with hit=true. At 100 TB the truth path is the grading
    * harness (one exact scan, the ann_bruteforce baseline's cost); the
    * served path is what ships.
    */
  val textToAsset: GraftQuery = GraftQuery(
    "multimodal_text_to_asset",
    "cross-modal retrieval: text query LSH-probes byte-class asset signatures, cosine top-10 + exact-truth hit grade",
    MultimodalOracle.textToAssetSql) { (s, d) =>
    textToAssetFrame(media(s, d))
  }

  /** The retrieval over any media-shaped frame (doc_id, media_type, pgm)
    * — the fixture seam for CrossModalSpec's planted corpus.
    */
  private[graft] def textToAssetFrame(assets: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.sim.SimFns
    val s = assets.sparkSession
    val px = assets
      .withColumn("img", call_function("decode_pgm", col("pgm")))
      .filter(size(col("img.pixels")) > 0)
      .select(col("doc_id"), col("media_type"),
        size(col("img.pixels")).cast("double").as("n"),
        explode(col("img.pixels")).as("p"))
    val sig = px
      .groupBy(col("doc_id"), col("media_type"), col("n"),
        shiftright(col("p"), 2).as("bin"))
      .agg(count(lit(1)).cast("double").as("c"))
      .groupBy(col("doc_id"), col("media_type"), col("n"))
      .agg(map_from_entries(collect_list(struct(col("bin"), col("c"))))
        .as("m"))
      .withColumn("v", expr(s"transform(sequence(0, ${SimFns.Dims - 1}), " +
        "i -> coalesce(element_at(m, i), 0D) / n)"))
      .select(col("doc_id"), col("media_type"), col("v"))
      .withColumn("nrm", SimFns.norm(col("v")))
      .withColumn("bucket", SimFns.lshBucket(col("v")))
      .localCheckpoint()
    // the query's histogram: driver-side exact count/len divisions
    val qb = XmodalQuery.getBytes("UTF-8")
    val qh = Array.fill(SimFns.Dims)(0.0)
    qb.foreach(b => qh((b & 0xff) >> 2) += 1.0)
    val qv = qh.map(_ / qb.length).toIndexedSeq
    val qrow = s.range(1).select(array(qv.map(lit): _*).as("qv"))
      .withColumn("qnrm", SimFns.norm(col("qv")))
    val scored = sig.crossJoin(broadcast(qrow))
      .withColumn("cosine",
        SimFns.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
    val w = Window.orderBy(desc("cosine"), col("doc_id"))
    val truth = scored
      .withColumn("rt", row_number().over(w)).filter(col("rt") <= 10)
      .select(col("doc_id").as("t_doc"))
    val probes = qrow.select(
      explode(SimFns.probeBuckets(SimFns.lshBucket(col("qv")))).as("probe"))
    scored.join(broadcast(probes), col("bucket") === col("probe"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 10)
      .join(truth, col("doc_id") === col("t_doc"), "left")
      .select(col("rn"), col("doc_id"), col("media_type"), col("cosine"),
        col("t_doc").isNotNull.as("hit"))
      .orderBy("rn")
  }

  /** Frame length (samples) for [[audioSegments]]' energy gate. */
  val VadFrameLen = 16

  /** Activity segmentation (VAD-lite) — the audio analog of
    * [[sceneCuts]]: frame the signal into [[VadFrameLen]]-sample
    * windows, gate each frame on energy > half the asset's mean frame
    * energy, and run-length the active frames into segments — the
    * silence-trimming pass a speech corpus runs before any model sees
    * audio (untrimmed silence wastes tokens and skews loss). Per asset:
    * frame/active counts, active fraction, segment count, longest
    * segment.
    *
    * Scale shape: one explode bounded by payload size, per-frame integer
    * energy partial aggs, and islands via a row_number window — ALL
    * windows partition by asset, so the op shards across executors at
    * any corpus size. Determinism: energies are exact integer sums of
    * (sample-128)^2; the gate compares e * n_frames * 2 > total_energy —
    * pure LONG arithmetic, no division, no epsilon.
    */
  val audioSegments: GraftQuery = GraftQuery(
    "multimodal_audio_segments",
    s"audio activity segmentation: $VadFrameLen-sample frames, integer energy gate at half the mean, run-length segments per asset",
    MultimodalOracle.audioSegmentsSql) { (s, d) =>
    audioSegmentsFrame(media(s, d).filter(col("media_type") === "audio"))
  }

  /** The segmentation over any (doc_id, pgm) frame — the fixture seam
    * for the planted silence/burst spec (CrossModalSpec).
    */
  private[graft] def audioSegmentsFrame(assets: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = assets
      .withColumn("img", call_function("decode_pgm", col("pgm")))
      .withColumn("np", size(col("img.pixels")))
      .filter(col("np") >= VadFrameLen)
      .select(col("doc_id"), col("np"), col("img.pixels").as("pxs"))
    val fr = base
      .select(col("doc_id"), col("np"),
        posexplode(col("pxs")).as(Seq("pos", "x")))
      .withColumn("f", expr(s"pos div $VadFrameLen").cast("long"))
      .filter(col("f") < expr(s"np div $VadFrameLen"))
      .groupBy(col("doc_id"), col("f"))
      .agg(sum((col("x") - 128).cast("long") * (col("x") - 128)).as("e"))
    val wd = Window.partitionBy(col("doc_id"))
    val act = fr
      .withColumn("n_frames", count(lit(1)).over(wd))
      .withColumn("te", sum(col("e")).over(wd))
      .withColumn("active", col("e") * col("n_frames") * lit(2L) > col("te"))
      .localCheckpoint(eager = false) // read by the rollup AND the islands
    val wf = Window.partitionBy(col("doc_id")).orderBy(col("f"))
    val segs = act.filter(col("active"))
      .withColumn("grp", col("f") - row_number().over(wf))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("seg_len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        max(col("seg_len")).as("longest_segment"))
    act
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("active"), 1L).otherwise(0L)).as("n_active"))
      .join(segs, Seq("doc_id"), "left") // all-silent assets stay visible
      .select(col("doc_id"), col("n_frames"), col("n_active"),
        (col("n_active") / col("n_frames")).as("active_frac"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest_segment"), lit(0L)).as("longest_segment"))
      .orderBy("doc_id")
  }

  /** Variance-of-Laplacian floor under which an image is BLURRY. */
  val BlurVarThreshold = 500.0

  /** BLUR detection — the vision-quality screen a training-data ingest
    * runs before spending GPU time on an image (the classic OpenCV
    * `variance of Laplacian` recipe): sharp images have strong local
    * second derivatives, defocus smears them toward zero. Per decoded
    * image, the 4-neighbour discrete Laplacian
    * 4·p(r,c) − p(r−1,c) − p(r+1,c) − p(r,c−1) − p(r,c+1) over every
    * INTERIOR pixel, its variance from exact integer sums, and the
    * blurry verdict at [[BlurVarThreshold]].
    *
    * Same contract as [[gradients]]: the whole computation fuses into
    * the decode span (narrow map, no shuffle until the final sort);
    * variance = (n·Σx² − (Σx)²)/n² on exact LONGs with ONE IEEE
    * division, so no quantization is even needed. Laplacian magnitudes
    * are ≤ 1020 and interiors ≤ 10⁴ pixels here, so both longs are far
    * inside range; at production image sizes (10⁶ px, |L| ≤ 1020) the
    * sums still fit 2⁶³ with 10⁵ headroom.
    */
  val blurScore: GraftQuery = GraftQuery(
    "multimodal_blur_score",
    s"vision quality screen: variance of the 4-neighbour Laplacian per decoded image, blurry at < $BlurVarThreshold",
    MultimodalOracle.blurScoreSql) { (s, d) =>
    blurFrame(media(s, d))
  }

  /** The blur derivation over any media frame — shared by the registry
    * query and the flat-vs-checkerboard spec (CrossModalSpec).
    */
  private[graft] def blurFrame(mediaDf: DataFrame): DataFrame = {
    val px = col("img.pixels")
    val w = col("img.width")
    val h = col("img.height")
    mediaDf
      .filter(col("media_type") === "image")
      .withColumn("img", call_function("decode_pgm", col("pgm")))
      .filter(size(col("img.pixels")) > 0
        && col("img.height") >= 3 && col("img.width") >= 3)
      .withColumn("lap", filter(
        transform(sequence(lit(1), size(px)),
          i => when(i > w && i <= w * (h - 1)
              && (i - 1) % w =!= 0 && i % w =!= 0,
            lit(4) * element_at(px, i) - element_at(px, i - w)
              - element_at(px, i + w) - element_at(px, i - 1)
              - element_at(px, i + 1))
            .otherwise(lit(null).cast("int"))),
        x => x.isNotNull))
      .withColumn("nl", size(col("lap")).cast("long"))
      .withColumn("sl",
        aggregate(col("lap"), lit(0L), (a, x) => a + x))
      .withColumn("sll",
        aggregate(col("lap"), lit(0L), (a, x) => a + x.cast("long") * x))
      .withColumn("lap_var",
        (col("nl") * col("sll") - col("sl") * col("sl")).cast("double")
          / (col("nl") * col("nl")).cast("double"))
      .select(col("doc_id"), w.as("width"), h.as("height"),
        col("nl").as("n_interior"), col("lap_var"),
        (col("lap_var") < BlurVarThreshold).as("blurry"))
      .orderBy("doc_id")
  }

  def all: Seq[GraftQuery] =
    Seq(catalog, frameSample, features, phashBuckets, thumbnail, gradients,
      audioFeatures, crossmodalConsistency, sceneCuts, thumbnailNeardup,
      textToAsset, spectral, audioSegments, blurScore)
}
