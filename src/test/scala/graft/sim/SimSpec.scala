package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkSpec
import SimFns._

class SimSpec extends SparkSpec {

  test("dot/norm: known vectors") {
    graft.functions.GraftFunctions.register(spark)
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val r = df.select(
      dot(col("a"), col("b")).as("d"),
      norm(col("a")).as("na")).collect()(0)
    assert(r.getDouble(0) === 32.0)
    assert(r.getDouble(1) === math.sqrt(14.0))
  }

  test("cosine of a vector with itself is exactly 1 after norm division") {
    graft.functions.GraftFunctions.register(spark)
    val spark0 = spark
    import spark0.implicits._
    val v = Seq(0.25, -0.5, 0.125, 1.0) // binary-exact values
    val df = Seq((v, v)).toDF("a", "b")
    val r = df.select(
      (dot(col("a"), col("b")) / (norm(col("a")) * norm(col("b")))).as("c"))
      .collect()(0).getDouble(0)
    assert(r === 1.0)
  }

  test("lshBucket: deterministic, in range, identical vectors same bucket") {
    graft.functions.GraftFunctions.register(spark)
    val spark0 = spark
    import spark0.implicits._
    val v1 = Seq.tabulate(Dims)(i => (i % 7 - 3) / 3.0)
    val v2 = Seq.tabulate(Dims)(i => (i % 5 - 2) / 2.0)
    val out = Seq(v1, v1, v2).toDF("v")
      .select(lshBucket(col("v")).as("b")).collect().map(_.getInt(0))
    assert(out(0) === out(1))
    assert(out.forall(b => b >= 0 && b < (1 << NumPlanes)))
  }

  test("lsh multi-probe recall vs brute force: pinned at measured floor") {
    // Deterministic on the fixed sf0.001 corpus: 8 planes + 1-bit
    // multi-probe measures 0.24 (the old 4-plane single-probe scheme
    // measured 0.14 on the same data while scanning 6.25% of the corpus
    // vs multi-probe's 3.5%). Any change to planes/probing that degrades
    // recall below the old scheme fails here loudly.
    val bf = SimQueries.bruteforce.frame(spark, sf).select("qid", "vec_id")
    val lsh = SimQueries.lshTopk.frame(spark, sf).select("qid", "vec_id")
    val total = bf.count()
    val hits = bf.intersect(lsh).count()
    assert(total === 50L)
    val recall = hits.toDouble / total
    assert(recall >= 0.24, s"lsh recall degraded: $recall")
  }

  test("binary sign fingerprints: hand vectors exact; Hamming shortlist sane; recall floor measured") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.col
    // hand vectors: all-positive -> all 60 bits set; all-negative -> 0;
    // alternating -> the 0xAAAA... pattern restricted to 60 bits
    val probe = Seq(
      Seq.fill(64)(0.5), Seq.fill(64)(-0.5),
      (0 until 64).map(i => if (i % 2 == 1) 1.0 else -1.0))
      .toDF("v")
      .select(graft.sim.SimQueries.signFpPublic(col("v")).as("f"))
      .collect().map(_.getLong(0))
    assert(probe(0) === (1L << 60) - 1L)
    assert(probe(1) === 0L)
    val alt = (0 until 60).filter(_ % 2 == 1).map(1L << _).sum
    assert(probe(2) === alt)
    assert(java.lang.Long.bitCount(probe(0) ^ probe(1)) === 60)
    assert(java.lang.Long.bitCount(probe(0) ^ probe(2)) === 30)
    // registry frame: 10 rows per query, Hamming nondecreasing in rank,
    // rerank cosine present and bounded
    val rows = SimQueries.binaryHamming.frame(spark, sf).collect()
    val perQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(perQ.size === 5)
    perQ.foreach { case (q, rs) =>
      assert(rs.length === 10, s"query $q shortlist size")
      val sorted = rs.sortBy(_.getAs[Int]("rn"))
      val hs = sorted.map(_.getAs[Int]("hamming"))
      assert(hs.zip(hs.tail).forall { case (a, b) => a <= b },
        s"query $q hamming not sorted")
      sorted.foreach { r =>
        val c = r.getAs[Double]("cosine")
        assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12)
        assert(r.getAs[Int]("hamming") >= 0
          && r.getAs[Int]("hamming") <= SimQueries.SignBits)
      }
    }
    // recall floor on the fixed sf0.001 corpus: measures 0.28 — the
    // honest price of 64x compression when the shortlist is only 10 deep
    // (a production two-stage index shortlists 100-1000 then reranks;
    // recall@10-from-10 is the hardest setting). Pinned at the measured
    // floor like the LSH sibling: a fingerprint regression fails loudly.
    val rec = SimQueries.binaryRecall.frame(spark, sf).collect()
    assert(rec.length === 5)
    rec.foreach { r =>
      val v = r.getAs[Double]("recall")
      assert(v >= 0.0 && v <= 1.0)
      assert(v === r.getAs[Long]("n_hits").toDouble / 10.0)
    }
    val mean = rec.map(_.getAs[Double]("recall")).sum / rec.length
    assert(mean >= 0.279, s"binary recall degraded: $mean")
  }

  test("ivf recall artifact: one row per query, recall = hits/10, in [0,1]") {
    val rows = SimQueries.ivfRecall.frame(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      val recall = r.getAs[Double]("recall")
      assert(hits >= 0 && hits <= 10)
      assert(recall === hits / 10.0)
    }
  }

  test("kmeans training: cells partition the corpus, deterministic across runs") {
    val total = graft.Tables.embeddings(spark, sf).count()
    val k = SimFns.kmeansK(total)
    val rows = SimQueries.kmeans.frame(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= k)
    assert(rows.map(_.getAs[Long]("n_assigned")).sum === total)
    rows.foreach { r =>
      val j = r.getAs[Int]("cluster")
      assert(j >= 0 && j < k)
      assert(r.getAs[Double]("inertia") >= 0.0)
      assert(r.getAs[Double]("centroid_norm") > 0.0)
    }
    val again = SimQueries.kmeans.frame(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  // The quantizer-scaling contract (SimFns.KmeansKFloor note): k grows
  // with the corpus so cell occupancy — the quadratic term of every
  // intra-cell pair join — stays bounded by a constant multiple of
  // TargetCellSize, independent of corpus size. The formula itself is
  // pinned exactly; occupancy is pinned at the Lloyd-skew bound measured
  // across the shipped SFs (<= 4x target; avg occupancy <= target by
  // construction since cells >= n/target).
  test("kmeans scaling: k follows max(floor, n/target); occupancy bounded") {
    assert(SimFns.kmeansK(1L) === SimFns.KmeansKFloor)
    assert(SimFns.kmeansK(500L) === SimFns.KmeansKFloor) // sf0.001/0.01
    assert(SimFns.kmeansK(2000L) === 32) // sf0.1: 2000/64
    assert(SimFns.kmeansK(1000000L) === 15625) // k keeps scaling: n/64
    val occ = SimQueries.kmeansCells(spark, sf).collect()
      .groupBy(_.getAs[Int]("cell")).map(_._2.length)
    assert(occ.max <= 4 * SimFns.TargetCellSize,
      s"cell occupancy ${occ.max} exceeds 4x target ${SimFns.TargetCellSize}")
  }

  // The training-cost contract (SimFns.KmeansKFloor note, second half):
  // training is HIERARCHICAL — stage A sweeps over the expected-m1
  // anchor sample at k1 candidates (O(SampleMult*k) per sweep), stage B
  // sweeps over per-anchor capped groups at ~k/k1 candidates each
  // (O(SampleMult*k^1.5) per sweep) — so per-sweep work is o(k^2), and
  // the full-corpus pass is the two-level anchor assignment at
  // O(n*sqrt(k)), never O(n*k).
  test("kmeans training: hierarchy sizes make per-sweep work o(k^2)") {
    // formula pins at the shipped SFs and at scale
    assert(SimFns.kmeansSampleM(500L) === 64) // min(500, 8*8)
    assert(SimFns.kmeansSampleM(2000L) === 256) // min(2000, 8*32)
    assert(SimFns.kmeansSampleM(40L) === 40) // corpus smaller than 8k
    assert(SimFns.kmeansSampleM(1000000L) === 125000) // 8*15625 << n
    assert(SimFns.kmeansK1(8) === 3)
    assert(SimFns.kmeansK1(32) === 6)
    assert(SimFns.kmeansK1(15625) === 125)
    assert(SimFns.kmeansAnchorSampleM(2000L) === 48) // 8*k1(32)=8*6
    assert(SimFns.kmeansAnchorSampleM(1000000L) === 1000) // 8*125
    // per-sweep distance counts are o(k^2) at scale: stage A is
    // m1*k1 = SampleMult*k1^2 ~ SampleMult*k; stage B is bounded by
    // sum_a (SampleMult*ka)*ka <= SampleMult*(kd+1)^2*k1 ~
    // SampleMult*k^1.5 — both strictly below the flat m*k =
    // SampleMult*k^2 the pre-hierarchy trainer paid
    val n = 1000000L
    val k = SimFns.kmeansK(n).toLong
    val k1 = SimFns.kmeansK1(k.toInt).toLong
    val stageA = SimFns.kmeansAnchorSampleM(n).toLong * k1
    val kd = k / k1
    val stageB = SimFns.KmeansSampleMult * (kd + 1) * (kd + 1) * k1
    val flat = SimFns.kmeansSampleM(n).toLong * k // the old Theta(k^2)
    assert(stageA < flat / 100, s"stage A $stageA not << flat $flat")
    assert(stageB < flat / 10, s"stage B $stageB not << flat $flat")
    // the hash-threshold sample: a pure per-row filter (no global sort),
    // deterministic, expected-size bounded, and NESTED (m' <= m implies
    // sample(m') is a subset of sample(m) — stage A's sample rides
    // inside stage B's)
    val total = graft.Tables.embeddings(spark, sf).count()
    val v = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(
          col("embedding"), x => x.cast("double")).as("v"))
    graft.functions.GraftFunctions.register(spark)
    val mA = SimFns.kmeansAnchorSampleM(total)
    assert(mA < total, s"anchor sample m1=$mA must be a strict subset here")
    val s1 = SimQueries.hashSample(v, total, mA).collect().map(_.getLong(0))
    val s2 = SimQueries.hashSample(v, total, mA).collect().map(_.getLong(0))
    assert(s1.toSeq === s2.toSeq) // deterministic
    assert(s1.nonEmpty && s1.length < total,
      s"expected-$mA sample of $total rows came back ${s1.length}")
    val sFull = SimQueries.hashSample(v, total, total)
      .collect().map(_.getLong(0))
    assert(sFull.length === total) // m = n keeps everything
    assert(s1.toSet.subsetOf(sFull.toSet))
  }

  test("silhouette: s bounded in [-1, 1], fractions valid, labels partition") {
    val total = graft.Tables.embeddings(spark, sf).count()
    val rows = SimQueries.silhouette.frame(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_vecs")).sum === total)
    rows.foreach { r =>
      val s = r.getAs[Double]("mean_silhouette")
      assert(s >= -1.0 && s <= 1.0, s"mean silhouette out of range: $s")
      val f = r.getAs[Double]("well_clustered_frac")
      assert(f >= 0.0 && f <= 1.0)
      assert(r.getAs[Double]("mean_dist_own") >= 0.0)
      assert(r.getAs[Double]("mean_dist_other") >= 0.0)
    }
  }

  test("semantic_dedup_pairs: agrees with brute-force intra-cell cosine") {
    import org.apache.spark.sql.functions._
    val out = SimQueries.semanticDedup.frame(spark, sf).collect()
    // brute force: all intra-cell pairs above threshold, same ordering
    val cells = SimQueries.kmeansCells(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val vs = graft.Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i) * y(i))
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val ids = vs.keys.toSeq.sorted
    val expect = (for {
      a <- ids; b <- ids
      if a < b && cells(a) == cells(b)
      c = cos(vs(a), vs(b)) if c >= SimFns.SemDedupCosine
    } yield (c, a, b)).sortBy { case (c, a, b) => (-c, a, b) }.take(20)
    assert(out.length === expect.length)
    out.zip(expect).foreach { case (row, (c, a, b)) =>
      assert(row.getAs[Long]("vec_a") === a)
      assert(row.getAs[Long]("vec_b") === b)
      assert(math.abs(row.getAs[Double]("cosine") - c) < 1e-12)
      assert(row.getAs[Int]("cell") === cells(a))
    }
  }

  test("int8 quantization: near-lossless reconstruction, max element saturates") {
    val out = SimQueries.int8Quant.frame(spark, sf)
    val rows = out.collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val amax = r.getAs[Double]("amax")
      val qmse = r.getAs[Double]("qmse")
      val qcos = r.getAs[Double]("qcos")
      val sat = r.getAs[Int]("n_saturated")
      // 8-bit max-abs error bound: |x - dq| <= amax/254 per component
      val bound = (amax / 254.0) * (amax / 254.0)
      assert(qmse >= 0 && qmse <= bound * 1.0001, s"qmse $qmse > $bound")
      assert(qcos > 0.999 && qcos <= 1.0 + 1e-12, s"qcos $qcos")
      // the element attaining max|x| always quantizes to +-127
      assert(sat >= 1)
    }
  }

  test("pca power: unit-norm direction, converged (one-more-matvec cosine), deterministic") {
    val rows = SimQueries.pcaPower.frame(spark, sf).collect()
    assert(rows.length === SimFns.Dims)
    val w = rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("loading"))
    val lambda = rows.head.getAs[Double]("lambda")
    assert(lambda > 0)
    assert(math.abs(w.map(x => x * x).sum - 1.0) < 1e-9)
    // one more matvec over the raw vectors: a converged direction maps
    // (near-)parallel to itself under A = X'X
    val vs = graft.Tables.embeddings(spark, sf).collect()
      .map(_.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
    val z = Array.fill(SimFns.Dims)(0.0)
    vs.foreach { v =>
      val s = (0 until SimFns.Dims).map(i => v(i) * w(i)).sum
      (0 until SimFns.Dims).foreach(i => z(i) += s * v(i))
    }
    val zn = math.sqrt(z.map(x => x * x).sum)
    val cos = (0 until SimFns.Dims).map(i => w(i) * z(i) / zn).sum
    assert(cos > 0.99, s"direction not converged: cos=$cos")
    val again = SimQueries.pcaPower.frame(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("ivfpq: contiguous ranks, ADC agrees with unrestricted PQ on shared pairs") {
    val ivf = SimQueries.ivfpqTopk.frame(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      assert(rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Int]("rn")).toSeq
        === (1 to rs.length))
      assert(rs.length <= 10)
    }
    // the IVF restriction must not change any ADC distance — a pair
    // returned by both indexes carries the identical quantized sum
    val pq = SimQueries.pqTopk.frame(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))
        -> r.getAs[Double]("adc_dist")).toMap
    val shared = ivf.flatMap { r =>
      pq.get((r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
        .map(d => (d, r.getAs[Double]("adc_dist")))
    }
    assert(shared.nonEmpty)
    shared.foreach { case (full, restricted) => assert(full === restricted) }
  }

  // The persisted-model lifecycle contract: serving from the warehouse-
  // persisted index must reproduce the in-query index BYTE-FOR-BYTE —
  // the model-state analog of portfolio_incremental_merge's
  // merge-vs-recompute attestation.
  test("ann_ivfpq_persisted: warehouse-served results equal the in-query index") {
    val served = SimQueries.ivfpqPersisted.frame(spark, sf).collect()
    val inQuery = SimQueries.ivfpqTopk.frame(spark, sf).collect()
    assert(served.map(_.toSeq).toSeq === inQuery.map(_.toSeq).toSeq)
    // the persisted model tables have the trained shapes
    val n = graft.Tables.embeddings(spark, sf).count()
    val k = SimFns.kmeansK(n)
    assert(spark.table(s"${graft.sources.Warehouse.Schema}.${SimQueries.IvfCentroidsTable}")
      .count() === k)
    assert(spark.table(s"${graft.sources.Warehouse.Schema}.${SimQueries.PqCodebooksTable}")
      .count() === SimFns.PqM * SimFns.PqK)
    assert(spark.table(s"${graft.sources.Warehouse.Schema}.${SimQueries.IvfCodesTable}")
      .count() === n * SimFns.PqM)
  }

  test("ann_ivfpq_incremental: appended code table == full rebuild at the frozen model") {
    graft.functions.GraftFunctions.register(spark)
    val report = SimQueries.ivfpqIncremental.frame(spark, sf).collect()
    assert(report.nonEmpty)
    val n = graft.Tables.embeddings(spark, sf).count()
    // old + new partition the corpus; the hash batch is ~10%
    val nOld = report.map(_.getAs[Long]("n_old")).sum
    val nNew = report.map(_.getAs[Long]("n_new")).sum
    assert(nOld + nNew === n)
    assert(nNew > 0 && nNew < n / 4, s"batch size $nNew implausible for n=$n")
    // the maintenance contract: the appended cell-partitioned code table
    // must serve EXACTLY like a one-pass rebuild of the union at the
    // same frozen model — same cells, same codes, no drift from the
    // append path itself
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id"), r.getAs[Int]("m"),
        r.getAs[Int]("code"), r.getAs[Int]("cell"))
    val appended = spark.table(
        s"${graft.sources.Warehouse.Schema}.${SimQueries.IvfCodesTable}")
      .collect().map(key).toSet
    val rebuilt = SimQueries.ivfpqRebuildCodes(spark, sf)
      .collect().map(key).toSet
    assert(appended === rebuilt,
      s"appended index diverges from rebuild: ${(appended diff rebuilt).take(3)} / ${(rebuilt diff appended).take(3)}")
    assert(appended.size.toLong === n * SimFns.PqM)
  }

  test("ann_ivfpq_deleted: doomed vectors physically gone, survivors byte-equal the deploy source") {
    graft.functions.GraftFunctions.register(spark)
    val served = SimQueries.ivfpqDeleted.frame(spark, sf).collect()
    assert(served.nonEmpty)
    def doomedId(id: Long): Boolean = {
      val h = graft.functions.Hash60.eval(
        org.apache.spark.unsafe.types.UTF8String.fromString(id.toString))
      h % 10 == SimQueries.DeleteResidue
    }
    // a deleted vector can never surface in a served result
    assert(served.forall(r => !doomedId(r.getAs[Long]("vec_id"))),
      "deleted vec_id surfaced in the served top-10")
    // ...because its rows are physically gone from the serving table
    val q = s"${graft.sources.Warehouse.Schema}.${SimQueries.IvfDelCodesTable}"
    val tbl = spark.table(q).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("m"),
        r.getAs[Int]("code"), r.getAs[Int]("cell")))
    assert(tbl.forall(t => !doomedId(t._1)))
    // merge-delete == rebuild-from-survivors: the purge touched nothing
    // but the doomed keys (the portfolio_incremental_merge contract)
    val rebuilt = SimQueries.kmeansCells(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val n = graft.Tables.embeddings(spark, sf).count()
    val nDoomed = (0L until n).count(doomedId)
    assert(nDoomed > 0, "fixture has no doomed vectors — residue dead")
    assert(tbl.length.toLong === (n - nDoomed) * SimFns.PqM)
    assert(tbl.forall(t => rebuilt(t._1) === t._4))
  }

  test("mergeTable targeted delete rewrites only the touched cell partitions") {
    import spark.implicits._
    import graft.sources.Warehouse
    // a 2-cell code-like table; delete one key from cell 1 only
    val tbl = "spec_del_codes"
    val q = s"${Warehouse.Schema}.$tbl"
    val rows = Seq((10L, 0, 5, 0), (11L, 0, 6, 0), (20L, 0, 7, 1),
      (21L, 0, 8, 1))
      .toDF("vec_id", "m", "code", "cell")
    Warehouse.replacePartitioned(rows, tbl, "cell")
    val cell0Before = spark.table(q).filter(col("cell") === 0)
      .inputFiles.toSet
    val doomed = Seq((1, 20L, 0)).toDF("cell", "vec_id", "m")
    Warehouse.mergeTable(spark.table(q).filter(lit(false)), tbl,
      Seq("cell", "vec_id", "m"), deletes = Some(doomed))
    assert(spark.table(q).collect().map(_.getAs[Long]("vec_id")).sorted
      === Seq(10L, 11L, 21L))
    // cell 0 held no doomed key: its files were never rewritten
    assert(spark.table(q).filter(col("cell") === 0)
      .inputFiles.toSet === cell0Before)
  }

  test("ivf adaptive nprobe: probe width within [1, cap], recall well-formed, deterministic") {
    val rows = SimQueries.ivfAdaptive.frame(spark, sf).collect()
    assert(rows.length === 5) // one row per query at sf0.001
    rows.foreach { r =>
      val np = r.getAs[Long]("n_probed")
      assert(np >= 1 && np <= SimQueries.AdaptProbeMax,
        s"probe width $np outside [1, ${SimQueries.AdaptProbeMax}]")
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(rec === r.getAs[Long]("n_hits") / 10.0)
    }
    val again = SimQueries.ivfAdaptive.frame(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("matryoshka adaptive: data-derived dim, recall >= the fixed-16 pipeline") {
    val rows = SimQueries.matryoshkaAdaptive.frame(spark, sf).collect()
    assert(rows.nonEmpty)
    // on this near-isotropic corpus (~25% energy at 16 dims) the
    // smallest-k-at->=0.5-energy rule lands on 32 — pinned so a silent
    // energy-recipe change can't move the serving dim unnoticed
    assert(rows.forall(_.getAs[Int]("chosen_dim") === 32))
    val fixed = SimQueries.matryoshkaRecall.frame(spark, sf).collect()
      .map(_.getAs[Double]("recall"))
    // the 2x-wider data-derived prefix must not grade worse in aggregate
    // than the fixed-16 slate (per-query recall is not monotone in
    // prefix width — the slate cut can reshuffle — but the mean is the
    // artifact's whole point)
    val meanA = rows.map(_.getAs[Double]("recall")).sum / rows.length
    val meanF = fixed.sum / fixed.length
    assert(meanA >= meanF - 1e-9,
      s"adaptive mean recall $meanA below fixed-16 $meanF")
  }

  test("cluster topics: contiguous ranks, lift-ordered, floor respected, lift exact") {
    val rows = SimQueries.clusterTopics.frame(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Int]("cell")).foreach { case (_, rs) =>
      assert(rs.length <= SimQueries.TopicTermsK)
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to rs.length))
      val lifts = sorted.map(_.getAs[Double]("lift"))
      assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
      rs.foreach(r =>
        assert(r.getAs[Long]("cnt_cell") >= SimQueries.TopicMinCount))
    }
    // cross-check one reported lift against an independent recount over
    // the raw tables (same trained cells, plain Scala arithmetic)
    val top = rows.minBy(r => (r.getAs[Int]("cell"), r.getAs[Int]("rank")))
    val cell = top.getAs[Int]("cell")
    val token = top.getAs[String]("token")
    val cells = SimQueries.kmeansCells(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val docToks = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" "))
    val cellToks = docToks.filter(d => cells(d._1) == cell).flatMap(_._2)
    val allToks = docToks.flatMap(_._2)
    val lift = math.log(
      (cellToks.count(_ == token).toDouble / cellToks.length) /
        (allToks.count(_ == token).toDouble / allToks.length))
    assert(math.floor(lift * 1e9 + 0.5) / 1e9 === top.getAs[Double]("lift"))
  }

  // Graph-ANN pins: the beam search is deterministic (two independent
  // frame builds collect identically — no nondeterministic tie-break or
  // partition-order dependence survives into the result), and the graded
  // recall meets the single-cell IVF probe's (the VERDICT-14 done bar:
  // a navigable-graph search from ONE entry point should beat reading
  // one IVF cell at comparable candidate counts).
  test("ann_graph_topk: beam deterministic; recall >= IVF single-cell") {
    // SharedModels.resetAll forces the second run to RETRAIN and REBUILD the
    // graph from scratch — without it the run would re-read the persisted
    // tables and the determinism pin would be vacuous
    def run() = {
      graft.api.SharedModels.resetAll()
      SimQueries.graphTopk.frame(spark, sf).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rn"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
    }
    val a = run()
    assert(a.nonEmpty)
    assert(a.sameElements(run()))
    def meanRecall(q: graft.api.GraftQuery): Double = {
      val rs = q.frame(spark, sf).collect().map(_.getAs[Double]("recall"))
      rs.sum / rs.length
    }
    assert(meanRecall(SimQueries.graphRecall) >= meanRecall(SimQueries.ivfRecall))
  }

  // Structural pins on the attach artifact beyond the oracle's value
  // parity: the batch's links obey the frozen-index contract — degree
  // caps at GraphDegree, every link lands on an OLD node (never new-new:
  // those wait for the next rebuild), and the nearest link is consistent
  // with the reported degree.
  test("ann_graph_incremental: links respect degree cap and frozen-node set") {
    val rows = SimQueries.graphIncremental.frame(spark, sf).collect()
    assert(rows.nonEmpty)
    val newIds = rows.map(_.getAs[Long]("vec_id")).toSet
    rows.foreach { r =>
      val deg = r.getAs[Long]("degree")
      assert(deg >= 1 && deg <= SimQueries.GraphDegree)
      val nn = r.getAs[Long]("nearest_id")
      // a link target is never a batch member — the batch attaches to the
      // FROZEN old nodes only
      assert(!newIds.contains(nn), s"new-new link $nn")
      assert(r.getAs[Double]("nearest_cosine") <= 1.0 + 1e-9)
    }
  }

  test("embedding_drift_psi: concentrated shift goes major; identical split stays stable") {
    import spark.implicits._
    // planted drift: the old population spreads uniformly over 4 cells,
    // the new batch concentrates in cell 0 — PSI must clear the 0.25
    // `major` edge. Identical distributions must read ~0 (`stable`).
    val shifted = (
      (0 until 4).flatMap(c => Seq.fill(25)((c, 1))) ++ // old: 25 per cell
      Seq.fill(40)((0, 0))                              // new: all in cell 0
    ).toDF("cell", "is_old")
    val major = graft.sim.SimQueries.driftPsiFrame(shifted)
      .select("psi", "band").head
    assert(major.getString(1) === "major",
      s"concentrated shift graded ${major.getString(1)} (psi=${major.getDouble(0)})")
    assert(major.getDouble(0) > 0.25)
    val same = (
      (0 until 4).flatMap(c => Seq.fill(25)((c, 1))) ++
      (0 until 4).flatMap(c => Seq.fill(10)((c, 0)))
    ).toDF("cell", "is_old")
    val stable = graft.sim.SimQueries.driftPsiFrame(same)
      .select("psi", "band").head
    assert(stable.getString(1) === "stable",
      s"identical split graded ${stable.getString(1)} (psi=${stable.getDouble(0)})")
    assert(math.abs(stable.getDouble(0)) < 0.01)
  }

  test("ann_filtered_topk: predicate never violated; hit column equals an independent filtered truth") {
    // independent third implementation: plain-Scala cosines over the
    // collected corpus (same ascending-index product order as the engine's
    // ordered fold and the oracle's list_reduce -> bit-identical doubles)
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray)).sortBy(_._1)
    def dotS(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dotS(v, v)) }.toMap
    val byId = vecs.toMap
    val truth: Map[Long, Set[Long]] = vecs.collect {
      case (qid, qv) if qid % 100 == 0 =>
        val qlang = docs(qid)
        val ranked = vecs
          .filter { case (id, _) => id != qid && docs(id) == qlang }
          .map { case (id, v) =>
            (dotS(qv, v) / (nrm(qid) * nrm(id)), id)
          }
          .sortBy { case (c, id) => (-c, id) }
          .take(10).map(_._2).toSet
        qid -> ranked
    }.toMap
    val rows = SimQueries.filteredTopk.frame(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val qid = r.getAs[Long]("qid")
      val vid = r.getAs[Long]("vec_id")
      // the predicate is enforced at candidate generation, never violated
      assert(docs(vid) === docs(qid),
        s"filtered search leaked lang: q=$qid cand=$vid")
      // hit == exact filtered-truth membership, per row
      assert(r.getAs[Boolean]("hit") === truth(qid).contains(vid))
    }
    // the probe finds SOMETHING on the fixed corpus (recall floor > 0)
    assert(rows.count(_.getAs[Boolean]("hit")) > 0)
    // ranks contiguous from 1 per query
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { g =>
      assert(g.map(_.getAs[Int]("rn")).sorted.toSeq === (1 to g.length))
    }
  }

  test("ann_range_search: served is a subset of exact; exact count matches an independent scan") {
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray)).sortBy(_._1)
    def dotS(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dotS(v, v)) }.toMap
    val exactCount: Map[Long, Long] = vecs.collect {
      case (qid, qv) if qid % 100 == 0 =>
        qid -> vecs.count { case (id, v) =>
          id != qid &&
            dotS(qv, v) / (nrm(qid) * nrm(id)) >= SimQueries.RangeTau
        }.toLong
    }.toMap
    val rows = SimQueries.rangeSearch.frame(spark, sf).collect()
    assert(rows.length === exactCount.size) // every query visible, 0-hit too
    rows.foreach { r =>
      val qid = r.getAs[Long]("qid")
      val ne = r.getAs[Long]("n_exact")
      val ns = r.getAs[Long]("n_served")
      assert(ne === exactCount(qid), s"exact in-range count drifted: q=$qid")
      assert(ns <= ne, s"served must be a subset of exact: q=$qid")
      if (ne == 0) assert(r.isNullAt(r.fieldIndex("coverage")))
      else assert(r.getAs[Double]("coverage") === ns.toDouble / ne)
    }
  }

  test("planes are fixed literals (regression pin)") {
    assert(Planes.length === NumPlanes)
    assert(Planes.forall(_.length === Dims))
    assert(Planes.flatten.forall(p => p >= -1.0 && p <= 1.0))
    // pin a couple of values so accidental generator changes fail loudly
    assert(Planes(0)(0) === ((2654435761L % 2001) - 1000) / 1000.0)
  }
}
