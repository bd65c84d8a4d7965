package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec
import TextFns._

/** Unit tests for the text primitives and the dedup candidate machinery on
  * literal fixtures.
  */
class TextDedupSpec extends SparkSpec {

  test("shingles: counts, contents, and short-doc empty array") {
    val spark0 = spark
    import spark0.implicits._
    val out = Seq("a b c d", "a b", "a").toDF("text")
      .select(shingles(tokens(col("text")), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(out(0).toSeq === Seq("a b c", "b c d"))
    assert(out(1).isEmpty)
    assert(out(2).isEmpty)
  }

  test("normText/fingerprint: whitespace+case normalization collapses dups") {
    val spark0 = spark
    import spark0.implicits._
    val fps = Seq("Hello  World", "hello world", "  hello   world  ")
      .toDF("text").select(fingerprint(col("text")).as("fp"))
      .collect().map(_.getString(0))
    assert(fps.distinct.length === 1)
  }

  test("langPred: marker argmax with dictionary-order tie-break") {
    val spark0 = spark
    import spark0.implicits._
    val out = Seq(
      "the cat of the house", // en markers x3
      "le chat et le chien", // fr markers x3
      "no markers here whatsoever") // tie at 0 -> first language (en)
      .toDF("text").select(langPred(tokens(col("text"))).as("l"))
      .collect().map(_.getString(0))
    assert(out.toSeq === Seq("en", "fr", "en"))
  }

  test("hash60: deterministic, non-negative, distinct inputs differ") {
    val spark0 = spark
    import spark0.implicits._
    val h = Seq("alpha", "alpha", "beta").toDF("t")
      .select(hash60(col("t")).as("h")).collect().map(_.getLong(0))
    assert(h(0) === h(1))
    assert(h(0) !== h(2))
    assert(h.forall(_ >= 0L))
  }

  test("ngram pipeline: a planted near-dup pair tops the ranking with known J") {
    val spark0 = spark
    import spark0.implicits._
    // doc 1 = doc 0 with the LAST word changed; 10 tokens -> 8 trigrams,
    // only the final window (t7 t8 t9) differs -> 7 shared, union 9
    val base = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    val docs = Seq(
      (0L, base),
      (1L, base.replace("t9", "zz")),
      (2L, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9"))
      .toDF("doc_id", "text")
    val top = graft.dedup.DedupQueries.ngramTopkFrame(docs).collect()
    assert(top.nonEmpty)
    val first = top.head
    assert(first.getAs[Long]("doc_a") === 0L)
    assert(first.getAs[Long]("doc_b") === 1L)
    assert(first.getAs[Double]("jaccard") === 7.0 / (8 + 8 - 7))
  }

  test("minhash+LSH pipeline: an exact duplicate is found with J = 1") {
    val spark0 = spark
    import spark0.implicits._
    val text = "a b c d e f g h i j k l"
    val docs = Seq(
      (10L, text), (11L, text),
      (12L, "completely different content with no shared bigrams at all"))
      .toDF("doc_id", "text")
    val out = graft.dedup.DedupQueries.minhashLshFrame(docs).collect()
    // identical docs share every signature -> every band collides -> the
    // pair MUST surface, verified at exactly J = 1
    assert(out.exists(r =>
      r.getAs[Long]("doc_a") === 10L && r.getAs[Long]("doc_b") === 11L &&
        r.getAs[Double]("jaccard") === 1.0))
  }

  test("connected components: chain + isolated pair collapse to min labels") {
    val spark0 = spark
    import spark0.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 propagation sweep) + pair 10-11
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (11L, 10L)).toDF("a", "b")
    val labels = graft.dedup.DedupQueries.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connected components (distributed path): pointer jump beats diameter on a chain") {
    val spark0 = spark
    import spark0.implicits._
    // 16-node path, diameter 15 > 12: plain min-label propagation would
    // exhaust the sweep cap, but the pointer jump contracts label chains
    // exponentially — forcing the distributed path (maxLocalEdges = 0)
    // must converge well inside the cap
    val edges = (0L until 15L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = graft.dedup.DedupQueries
      .connectedComponents(edges, maxLocalEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === (0L to 15L).map(_ -> 0L).toMap)
  }

  test("connected components (distributed path): an exhausted sweep budget fails fast") {
    val spark0 = spark
    import spark0.implicits._
    // with the budget squeezed to 2 sweeps a 32-node path cannot converge:
    // the cap must throw a diagnosis instead of looping forever
    val edges = (0L until 31L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      graft.dedup.DedupQueries
        .connectedComponents(edges, maxLocalEdges = 0L, maxSweeps = 2)
        .collect()
    }
    assert(e.getMessage.contains("sweeps"))
  }

  test("checkpoint hygiene: releaseAll leaves zero persistent RDDs behind") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Seq((0L, "a b c d e f"), (1L, "a b c d e g")).toDF("doc_id", "text")
    graft.dedup.DedupQueries.ngramTopkFrame(docs).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "posting table should be checkpointed while the query runs")
    graft.api.Checkpoints.releaseAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseAll must free every block — this is Bench/Verify's per-query sweep")
  }

  test("connected components match driver-side union-find on random graphs") {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { round =>
      val n = 30
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // directing every union max-root -> min-root makes each final root
      // the component's minimum id — exactly the propagation fixpoint
      val touched = edges.flatMap(e => Seq(e._1.toInt, e._2.toInt)).distinct
      val expected = touched.map(x => x.toLong -> find(x).toLong).toMap
      // BOTH execution paths must land on the same fixpoint: the
      // single-task union-find (default for graphs this size) and the
      // forced distributed sweeps
      val fast = graft.dedup.DedupQueries.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val swept = graft.dedup.DedupQueries
        .connectedComponents(edges.toDF("a", "b"), maxLocalEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast === expected, s"round $round (union-find path)")
      assert(swept === expected, s"round $round (sweep path)")
    }
  }

  test("dedup clusters: planted dup group becomes one cluster of known size") {
    val spark0 = spark
    import spark0.implicits._
    val base = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    // docs 0,1,2 pairwise J ~ 0.78-0.88 >= 0.5 -> one cluster of 3;
    // docs 5,6 identical -> cluster of 2; doc 9 unrelated -> no cluster
    val docs = Seq(
      (0L, base),
      (1L, base.replace("t9", "zz")),
      (2L, base.replace("t0", "yy")),
      (5L, "m0 m1 m2 m3 m4 m5 m6 m7"),
      (6L, "m0 m1 m2 m3 m4 m5 m6 m7"),
      (9L, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9"))
      .toDF("doc_id", "text")
    val edges = graft.dedup.DedupQueries.ngramJaccardFrame(docs)
      .filter(col("jaccard") >= graft.dedup.DedupQueries.ClusterJaccard)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val out = graft.dedup.DedupQueries.connectedComponents(edges)
      .groupBy(col("label")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 3L, 5L -> 2L))
  }

  test("cluster increment: a batch doc BRIDGES two persisted clusters; merge == recompute") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.col
    // sliding-window corpus: w1..w24 / w13..w36 are old docs with trigram
    // J = 10/34 ~ 0.29 (< 0.5 -> separate persisted clusters), while the
    // batch doc w7..w30 shares J = 16/28 ~ 0.57 (>= 0.5) with BOTH —
    // the contraction case the live corpus doesn't exhibit: two old
    // cluster labels merge through one frontier node
    def toks(lo: Int): String = (lo until lo + 24).map(i => s"w$i").mkString(" ")
    val xs = (1 to 24).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, toks(1)), // old, cluster 1
      (2L, toks(13)), // old, cluster 2 (J(1,2) < 0.5)
      (3L, xs), // old singleton, joined by batch near-copy 13
      (4L, (1 to 24).map(i => s"q$i").mkString(" ")), // old, untouched
      (11L, toks(7)), // batch: bridges clusters 1 and 2
      (12L, (1 to 24).map(i => s"y$i").mkString(" ")), // batch singleton
      (13L, xs.replace("x24", "zz")) // batch: near-copy of old 3
    ).toDF("doc_id", "text")
    val out = graft.dedup.DedupQueries
      .clusterIncrementFrame(docs, col("doc_id") >= 10L)
      .collect()
    val rows = out.map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("n_new_docs"), r.getAs[Long]("n_old_clusters_merged"),
      r.getAs[Boolean]("merge_ok"))).toSeq
    assert(rows === Seq(
      (1L, 3L, 1L, 2L, true), // {1, 2, 11}: TWO persisted clusters merged
      (3L, 2L, 1L, 1L, true))) // {3, 13}: batch doc joins an old singleton
  }

  test("repetition metrics: known dup-gram and top-token fractions") {
    val spark0 = spark
    import spark0.implicits._
    // "a b a b a": 2-grams [a b, b a, a b, b a] -> 4 total, 2 distinct;
    // top token a x3 of 5
    val docs = Seq((1L, "a b a b a"), (2L, "x y z")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val grams = shingles(tokens(col("text")), 2)
    val row = docs.filter(col("doc_id") === 1)
      .select(size(grams).as("t"), size(array_distinct(grams)).as("d"))
      .collect().head
    assert(row.getInt(0) === 4)
    assert(row.getInt(1) === 2)
  }

  test("rebalance invariants: kept <= in, en keeps all, frac consistent") {
    val rows = graft.text.TextQueries.rebalance.frame(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val in = r.getAs[Long]("docs_in")
      val kept = r.getAs[Long]("docs_kept")
      assert(kept >= 0 && kept <= in)
      assert(r.getAs[Double]("kept_frac") === kept.toDouble / in)
      if (r.getAs[String]("lang") == "en") assert(kept === in)
    }
  }

  test("packing invariants: doc and token totals conserved, bins near-full") {
    val docs = graft.Tables.documents(spark, sf)
    val totalDocs = docs.count()
    val rows = graft.text.TextQueries.packing.frame(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === totalDocs)
    rows.foreach { r =>
      val fill = r.getAs[Double]("fill_frac")
      val toks = r.getAs[Long]("total_tokens")
      val bins = r.getAs[Long]("n_bins")
      // every bin except the last is full by construction (a doc starts
      // in the bin its offset lands in), so bins is the offset range / L
      // rounded up w.r.t. the last doc's start
      assert(bins >= 1 && fill > 0 && fill < 1.5, s"fill $fill bins $bins")
      assert(toks.toDouble / bins <= 2048 * 1.5, "bins cannot be sparser than the rule allows")
    }
  }

  test("length histogram: doc and token totals conserved, buckets aligned") {
    val docs = graft.Tables.documents(spark, sf)
    val totalDocs = docs.count()
    val totalToks = docs
      .agg(sum(size(split(col("text"), " ")))).collect()(0).getLong(0)
    val rows = graft.text.TextQueries.lengthHistogram.frame(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === totalDocs)
    assert(rows.map(_.getAs[Long]("total_tokens")).sum === totalToks)
    rows.foreach { r =>
      val lo = r.getAs[Long]("bucket_lo")
      assert(lo % 16 === 0)
      val avg = r.getAs[Double]("avg_tokens")
      assert(avg >= lo && avg < lo + 16, s"avg $avg outside [$lo, ${lo + 16})")
    }
  }

  test("stratified sample: <= K per lang, ranks contiguous from 1, deterministic") {
    val q = graft.text.TextQueries.sampleStratified
    val rows = q.frame(spark, sf).collect()
    val K = graft.text.TextQueries.SamplePerStratum
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      assert(rs.length <= K, s"$lang oversampled: ${rs.length}")
      assert(rs.map(_.getAs[Int]("rk")).sorted.toSeq === (1 to rs.length),
        s"$lang ranks not contiguous")
    }
    // content-hash order: a second run picks the identical sample
    val again = q.frame(spark, sf).collect()
    assert(rows.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("normalize: canonical form drops non-[a-z space] chars only") {
    val spark0 = spark
    import spark0.implicits._
    val rows = graft.text.TextQueries.normalize.frame(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("chars_canon") <= r.getAs[Int]("chars_raw"))
      assert(r.getAs[Int]("chars_stripped") ===
        r.getAs[Int]("chars_raw") - r.getAs[Int]("chars_canon"))
    }
    // planted fixture: digits+punct stripped, spaces collapsed, md5 stable
    val df = Seq((1L, "ab 12c!  d")).toDF("doc_id", "text")
    val canon = df.select(trim(regexp_replace(
      regexp_replace(col("text"), "[^a-z ]", ""), " +", " ")).as("c"))
      .collect()(0).getAs[String]("c")
    assert(canon === "ab c d")
  }

  test("nfc normalize: composed==decomposed, homoglyphs squash, zero-widths vanish, ASCII is identity") {
    val spark0 = spark
    import spark0.implicits._
    graft.functions.GraftFunctions.register(spark)
    val composed = "caf\u00e9 r\u00e9sum\u00e9"
    val decomposed = "cafe\u0301 re\u0301sume\u0301"
    val homoglyph = "p\u0430yp\u0430l" // Cyrillic а twice
    val zeroWidth = "foo\u200bbar\ufeff"
    val ascii = "plain ascii text"
    val out = graft.text.TextQueries.normalizeNfcFrame(
      Seq((1L, composed), (2L, decomposed), (3L, homoglyph),
        (4L, zeroWidth), (5L, ascii)).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // composed and decomposed converge on the SAME canonical fingerprint
    // — the dup a raw-byte key misses
    assert(out(1L).getAs[String]("canon_fp") === out(2L).getAs[String]("canon_fp"))
    assert(!out(1L).getAs[Boolean]("nfc_changed")) // already NFC
    assert(out(2L).getAs[Boolean]("nfc_changed"))
    assert(out(2L).getAs[Int]("chars_raw") === decomposed.length)
    assert(out(2L).getAs[Int]("chars_nfc") === composed.length)
    // homoglyph squash lands on the latin form's fingerprint
    val latin = graft.text.TextQueries.normalizeNfcFrame(
      Seq((9L, "paypal")).toDF("doc_id", "text")).collect()(0)
    assert(out(3L).getAs[String]("canon_fp") === latin.getAs[String]("canon_fp"))
    assert(out(3L).getAs[Boolean]("squash_changed"))
    // zero-widths delete: 3 codepoints shorter, flags say squash only
    assert(out(4L).getAs[Int]("chars_canon") === out(4L).getAs[Int]("chars_nfc") - 2)
    assert(!out(4L).getAs[Boolean]("nfc_changed"))
    assert(out(4L).getAs[Boolean]("squash_changed"))
    // ASCII identity, and the expression agrees with java.text.Normalizer
    assert(!out(5L).getAs[Boolean]("nfc_changed"))
    assert(!out(5L).getAs[Boolean]("squash_changed"))
    assert(graft.functions.NfcNormalize.eval(
      org.apache.spark.unsafe.types.UTF8String.fromString(decomposed)).toString
      === java.text.Normalizer.normalize(decomposed,
        java.text.Normalizer.Form.NFC))
    // corpus surface: pure [a-z space] -> identity everywhere
    val corpus = graft.text.TextQueries.normalizeNfc.frame(spark, sf).collect()
    corpus.foreach { r =>
      assert(!r.getAs[Boolean]("nfc_changed") && !r.getAs[Boolean]("squash_changed"))
      assert(r.getAs[Int]("chars_raw") === r.getAs[Int]("chars_canon"))
    }
  }

  test("lrTrain: distributed GD sweeps == plain-Scala replay bit-for-bit; separable fixture learned") {
    val spark0 = spark
    import spark0.implicits._
    // separable fixture: long low-stopword docs (keep) vs short
    // stopword-heavy docs (drop)
    val keepText = (1 to 70).map(i => s"token$i").mkString(" ")
    val dropText = "the a of to and in is it the a"
    val docs = ((1 to 30).map(i => (i.toLong, keepText)) ++
      (31 to 60).map(i => (i.toLong, dropText)))
      .toDF("doc_id", "text")
    val feats = graft.text.TextQueries.lrFeatures(docs)
    val w = graft.text.TextQueries.lrTrain(feats,
      graft.text.TextQueries.LrIters)
    // plain-Scala replay over the collected features: identical
    // quantized gradients and weight updates, sweep for sweep
    val rows = feats.collect().map(r => (r.getAs[Double]("x1"),
      r.getAs[Double]("x2"), r.getAs[Double]("x3"), r.getAs[Double]("y")))
    var wr = IndexedSeq(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to graft.text.TextQueries.LrIters) {
      val gs = Array.fill(4)(0L)
      rows.foreach { case (x1, x2, x3, y) =>
        val z = wr(0) + wr(1) * x1 + wr(2) * x2 + wr(3) * x3
        val p = math.min(1.0, math.max(0.0, 0.25 * z + 0.5))
        val err = p - y
        Seq(1.0, x1, x2, x3).zipWithIndex.foreach { case (x, j) =>
          gs(j) += math.floor(err * x * 1e9 + 0.5).toLong
        }
      }
      val n = rows.length.toDouble
      wr = wr.indices.map(j => math.floor(
        (wr(j) - gs(j).toDouble / 1e9 / n) * 1e9 + 0.5) / 1e9)
    }
    assert(w === wr, "distributed trainer diverged from the replay")
    // the trained margin separates the planted classes perfectly
    val z = feats.select(col("doc_id"), col("y"),
      (lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
        lit(w(3)) * col("x3")).as("z")).collect()
    val keepMin = z.filter(_.getAs[Double]("y") == 1.0)
      .map(_.getAs[Double]("z")).min
    val dropMax = z.filter(_.getAs[Double]("y") == 0.0)
      .map(_.getAs[Double]("z")).max
    assert(keepMin > dropMax, s"margin does not separate: $keepMin <= $dropMax")
    // corpus surface: AUC readout exists and LR ranks no worse than chance
    val auc = graft.text.TextQueries.qualityLrAuc.frame(spark, sf)
      .collect().head
    assert(auc.getAs[Double]("lr_auc_roc") > 0.5)
    assert(auc.getAs[Long]("n_pos") > 0L && auc.getAs[Long]("n_neg") > 0L)
  }

  test("lrTrainCv: batched K-model sweep == independent per-fold training; folds partition; mean consistent") {
    val spark0 = spark
    import spark0.implicits._
    val keepText = (1 to 70).map(i => s"token$i").mkString(" ")
    val dropText = "the a of to and in is it the a"
    val docs = ((1 to 20).map(i => (i.toLong, keepText)) ++
      (21 to 40).map(i => (i.toLong, dropText)))
      .toDF("doc_id", "text")
    val feat = graft.text.TextQueries.lrFeatures(docs)
      .withColumn("fold",
        (hash60(col("doc_id").cast("string")) % 2).cast("int"))
      .localCheckpoint()
    val (wcv, nTrain) = graft.text.TextQueries.lrTrainCv(feat, 4, 2)
    // the batched conditional aggregates compute EXACTLY the same
    // quantized gradients as training each complement separately
    (0 to 1).foreach { k =>
      val wk = graft.text.TextQueries.lrTrain(
        feat.filter(col("fold") =!= k), 4)
      assert(wcv(k) === wk, s"fold $k diverged from independent training")
      assert(nTrain(k) ===
        feat.filter(col("fold") =!= k).count())
    }
    // corpus surface: holdouts partition the corpus; the mean is the
    // quantized average of the per-fold AUCs
    val rows = graft.text.TextQueries.qualityLrCv.frame(spark, sf).collect()
    assert(rows.length === graft.text.TextQueries.CvFolds)
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.map(r => r.getAs[Long]("n_pos") + r.getAs[Long]("n_neg"))
      .sum === nDocs)
    val meanExpected = rows.map(r => math.floor(
      r.getAs[Double]("auc_roc") * 1e9 + 0.5).toLong).sum / 1e9 /
      graft.text.TextQueries.CvFolds
    assert(rows.head.getAs[Double]("mean_auc_roc") === meanExpected)
  }

  test("lr weights artifact + 3-way agreement: published weights equal the trainer; cells partition the corpus") {
    val w = graft.text.TextQueries.qualityLrWeights.frame(spark, sf)
      .collect().head
    // the artifact equals an independent deterministic retrain
    val retrained = graft.text.TextQueries.lrTrain(
      graft.text.TextQueries.lrFeatures(graft.Tables.documents(spark, sf)),
      graft.text.TextQueries.LrIters)
    assert(w.getAs[Double]("w_bias") === retrained(0))
    assert(w.getAs[Double]("w_len_factor") === retrained(1))
    assert(w.getAs[Double]("w_stop_ratio") === retrained(2))
    assert(w.getAs[Double]("w_ttr") === retrained(3))
    // direction sanity: the length factor (the teacher rule's dominant
    // term) trains positive; the correlated stop-ratio weight's sign is
    // not pinned at this sweep budget — the separable-fixture spec
    // (lrTrain test) carries the learning assertion
    assert(w.getAs[Double]("w_len_factor") > 0.0)
    // agreement cells partition the corpus; all_agree implies
    // learned_agree; shares sum to 1
    val cells = graft.text.TextQueries.filterAgreement.frame(spark, sf)
      .collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(cells.map(_.getAs[Long]("n_docs")).sum === nDocs)
    cells.foreach { r =>
      if (r.getAs[Boolean]("all_agree"))
        assert(r.getAs[Boolean]("learned_agree"))
    }
    assert(math.abs(cells.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
  }

  test("isotonicFrame: planted violators pool to PAV block means; monotone; ECE non-increasing") {
    val spark0 = spark
    import spark0.implicits._
    // rates [0.3, 0.1, 0.2, 0.6, 0.4] at weight 10 each: PAV pools the
    // first three bins to 0.2 and the last two to 0.5
    val bins = Seq(
      (0L, 10L, 3L, 2L), (1L, 10L, 1L, 4L), (2L, 10L, 2L, 6L),
      (3L, 10L, 6L, 8L), (4L, 10L, 4L, 9L))
      .toDF("bin", "w", "k", "nbk")
    val got = graft.text.TextQueries.isotonicFrame(bins)
      .orderBy("bin").collect()
    assert(got.map(_.getAs[Double]("iso_rate")).toSeq ===
      Seq(0.2, 0.2, 0.2, 0.5, 0.5))
    // hand ECE: before = mean |nb - heur| per bin (equal weights):
    // |.2-.3| + |.4-.1| + |.6-.2| + |.8-.6| + |.9-.4| over 5 = 0.3
    assert(math.abs(got.head.getAs[Double]("ece_before") - 0.3) < 1e-9)
    // after = (|.2-.3|+|.2-.1|+|.2-.2|+|.5-.6|+|.5-.4|)/5 = 0.08
    assert(math.abs(got.head.getAs[Double]("ece_after") - 0.08) < 1e-9)
    // an already-monotone sequence is a fixed point
    val mono = Seq((0L, 10L, 1L, 1L), (1L, 10L, 4L, 4L), (2L, 10L, 9L, 9L))
      .toDF("bin", "w", "k", "nbk")
    assert(graft.text.TextQueries.isotonicFrame(mono)
      .orderBy("bin").collect().map(_.getAs[Double]("iso_rate")).toSeq ===
      Seq(0.1, 0.4, 0.9))
    // corpus surface: monotone fit, ECE does not increase
    val corpus = graft.text.TextQueries.isotonicCalibration
      .frame(spark, sf).collect()
    val rates = corpus.map(_.getAs[Double]("iso_rate")).toSeq
    assert(rates === rates.sorted, "isotonic fit not monotone")
    assert(corpus.head.getAs[Double]("ece_after") <=
      corpus.head.getAs[Double]("ece_before") + 1e-12,
      "calibration made ECE worse")
  }

  test("hard negatives: every mined doc is a sub-coverage near-miss; ranks contiguous, scores non-increasing") {
    val rows = graft.text.TextQueries.hardNegatives.frame(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // the defining property: high-scoring but NOT fully relevant
      assert(r.getAs[Long]("cov") < r.getAs[Int]("n_terms"),
        s"full-coverage doc mined as a negative: $r")
      assert(r.getAs[Long]("neg_rank") >= 1L &&
        r.getAs[Long]("neg_rank") <= graft.text.TextQueries.HnK)
    }
    rows.groupBy(_.getAs[Int]("query_id")).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("neg_rank"))
      assert(sorted.map(_.getAs[Long]("neg_rank")).toSeq ===
        (1L to sorted.length).toSeq, s"query $q ranks not contiguous")
      val scores = sorted.map(_.getAs[Double]("bm25_score")).toSeq
      assert(scores === scores.sorted.reverse, s"query $q scores increase")
    }
    // the mined negatives never intersect the fully-relevant positives
    val scored = graft.text.TextQueries.ndcgScoredFrame(spark, sf)
      .join(org.apache.spark.sql.functions.broadcast(
        graft.text.TextQueries.ndcgQinfo(spark)), "query_id")
    val posKeys = scored
      .filter(col("cov") === col("n_terms"))
      .select(col("query_id"), col("doc_id")).collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("doc_id"))).toSet
    rows.foreach { r =>
      assert(!posKeys.contains(
        (r.getAs[Int]("query_id"), r.getAs[Long]("doc_id"))))
    }
  }

  test("lsh tuning: sharper bands never admit more candidates; theory curve strictly falls; deployed config present") {
    val rows = graft.dedup.DedupQueries.lshTuning.frame(spark, sf)
      .collect()
    assert(rows.length === graft.dedup.DedupQueries.LshTuneConfigs.length)
    // rows_per_band ascending == s-curve sharpening: candidate counts
    // must be non-increasing, the theoretical collision prob strictly so
    val cands = rows.map(_.getAs[Long]("n_cand")).toSeq
    assert(cands === cands.sorted.reverse, s"candidates not monotone: $cands")
    val theory = rows.map(_.getAs[Double]("p_collide_at_threshold")).toSeq
    assert(theory.zip(theory.tail).forall { case (a, b) => a > b })
    // the truth set is config-independent
    assert(rows.map(_.getAs[Long]("n_truth")).distinct.length === 1)
    // the deployed geometry (4 x BandRows) is in the sweep
    assert(rows.exists(r => r.getAs[Int]("bands") === 4 &&
      r.getAs[Int]("rows_per_band") === graft.dedup.DedupQueries.BandRows))
    // every config's candidate set is graded against the same truth:
    // caught <= min(truth, candidates)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_caught") <=
        math.min(r.getAs[Long]("n_truth"), r.getAs[Long]("n_cand")))
    }
  }

  test("curriculum: stages ordered by ppl, near-quartile budgets, totals conserved") {
    val rows = graft.text.TextQueries.curriculum.frame(spark, sf).collect()
    val S = graft.text.TextQueries.CurriculumStages
    // stage-level rollup from the (stage, shard) manifest
    val byStage = rows.groupBy(_.getAs[Int]("stage")).toSeq.sortBy(_._1)
    assert(byStage.map(_._1) === (0 until S))
    // ascending difficulty: stage i's max ppl never exceeds stage i+1's min
    val bounds = byStage.map { case (_, rs) =>
      (rs.map(_.getAs[Double]("ppl_lo")).min,
        rs.map(_.getAs[Double]("ppl_hi")).max)
    }
    bounds.zip(bounds.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"stage overlap: $bounds")
    }
    // budgets: stages are value-granular quarters — each within one
    // tie-group of n/S; totals conserve the scored-doc count
    val perStage = byStage.map(_._2.map(_.getAs[Long]("n_docs")).sum)
    val n = perStage.sum
    val scored = graft.text.TextQueries.lmPerplexity.frame(spark, sf).count()
    assert(n === scored, "curriculum must cover every ppl-scored doc")
    perStage.foreach(c => assert(c > 0L))
    assert(perStage.max - perStage.min <= n / 2,
      s"stage budgets wildly unbalanced: $perStage")
  }

  test("grouped splits: leakage-free by construction; groups never straddle; doc-hash comparison leaks") {
    import org.apache.spark.sql.functions.countDistinct
    val rows = graft.dedup.DedupQueries.groupedSplits.frame(spark, sf)
      .collect()
    assert(rows.map(_.getAs[String]("split")).toSet
      .subsetOf(Set("train", "val", "test")))
    // the defining property, recounted by the query itself
    rows.foreach { r =>
      assert(r.getAs[Long]("cross_pairs_grouped") === 0L)
      assert(r.getAs[Boolean]("leakage_free"))
    }
    // the doc-hash split DOES leak on this corpus (the number the
    // operator fixes — dedup_split_leakage measured 36% of dup pairs)
    assert(rows.head.getAs[Long]("n_dup_pairs") > 0L)
    assert(rows.head.getAs[Long]("cross_pairs_dochash") > 0L)
    // docs partition the corpus
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      graft.Tables.documents(spark, sf).count())
    // independent recheck: no group key appears in two splits
    val docs = graft.Tables.documents(spark, sf).select(col("doc_id"))
    val pairs = graft.dedup.DedupQueries.sharedNgramPairs(spark, sf)
      .filter(col("jaccard") >= graft.dedup.DedupQueries.ClusterJaccard)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val labels = graft.dedup.DedupQueries.connectedComponents(pairs)
    val g = docs.join(labels.select(col("node").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .withColumn("gkey", coalesce(col("label"), col("doc_id")))
      .withColumn("split", when(hash60(concat(lit("grp:"),
        col("gkey").cast("string"))) % 100 < 80, "train")
        .when(hash60(concat(lit("grp:"),
          col("gkey").cast("string"))) % 100 < 90, "val")
        .otherwise("test"))
    val maxSplits = g.groupBy(col("gkey"))
      .agg(countDistinct(col("split")).as("ns"))
      .agg(org.apache.spark.sql.functions.max(col("ns"))).collect()(0).getLong(0)
    assert(maxSplits === 1L, "a near-dup group straddles splits")
  }

  test("keep funnel: final <= each stage, totals conserved, dups actually drop") {
    val docs = graft.Tables.documents(spark, sf)
    val total = docs.count()
    val rows = graft.dedup.DedupQueries.keepSummary.frame(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("docs_in")).sum === total)
    rows.foreach { r =>
      val in = r.getAs[Long]("docs_in")
      val ex = r.getAs[Long]("exact_kept")
      val nd = r.getAs[Long]("neardup_kept")
      val fin = r.getAs[Long]("final_kept")
      assert(ex <= in && nd <= in)
      assert(fin <= ex && fin <= nd)
      assert(fin >= 1, s"a language lost every document: $r")
    }
    // the corpus plants exact dups (dedup_exact_summary counts them), so
    // the funnel must drop SOMETHING overall
    val dropped = rows.map(r =>
      r.getAs[Long]("docs_in") - r.getAs[Long]("final_kept")).sum
    assert(dropped > 0)
  }

  test("span overlap: planted copy-paste pair found with exact window count") {
    val spark0 = spark
    import spark0.implicits._
    // doc 1 quotes a 12-token passage of doc 0 verbatim inside otherwise
    // disjoint text: 12 tokens -> 12-8+1 = 5 shared 8-token windows. The
    // whole-doc 3-gram Jaccard of this pair is far below the 0.5 near-dup
    // threshold — exactly the evidence class span dedup exists for.
    val passage = "p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11"
    val docs = Seq(
      (0L, s"a0 a1 a2 a3 a4 a5 a6 a7 $passage b0 b1 b2 b3 b4 b5 b6 b7"),
      (1L, s"c0 c1 c2 c3 c4 c5 c6 c7 $passage d0 d1 d2 d3 d4 d5 d6 d7"),
      (2L, "e0 e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 e11 e12 e13 e14 e15"))
      .toDF("doc_id", "text")
    val out = graft.dedup.DedupQueries.spanOverlapFrame(docs).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("doc_a") === 0L && r.getAs[Long]("doc_b") === 1L)
    assert(r.getAs[Long]("shared_spans") === 5L)
    // both docs have 28 tokens -> 21 distinct windows; frac = 5/21
    assert(math.abs(r.getAs[Double]("overlap_frac") - 5.0 / 21.0) < 1e-12)
  }

  test("span strip: planted duplicated passage excised from exactly the non-canonical doc") {
    val spark0 = spark
    import spark0.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // same fixture shape as the detection test: doc 1 quotes a 12-token
    // passage of doc 0 verbatim. The passage's 5 interior 8-token windows
    // are shared; windows straddling the passage boundary are unique to
    // each doc. Canonical owner = doc 0 (min doc_id) keeps everything;
    // doc 1 must lose exactly the 12 passage positions (union of the 5
    // overlapping windows); doc 2 is untouched.
    val passage = "p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11"
    val text0 = s"a0 a1 a2 a3 a4 a5 a6 a7 $passage b0 b1 b2 b3 b4 b5 b6 b7"
    val text1 = s"c0 c1 c2 c3 c4 c5 c6 c7 $passage d0 d1 d2 d3 d4 d5 d6 d7"
    val text2 = "e0 e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 e11 e12 e13 e14 e15"
    val docs = Seq((0L, text0), (1L, text1), (2L, text2)).toDF("doc_id", "text")
    val out = graft.dedup.DedupQueries.spanStripFrame(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))).toMap
    assert(out.keySet === Set(0L, 1L, 2L))
    // owner keeps all 28 tokens; cleaned fp = original text fp
    assert(out(0L) === ((28L, 0L, 28L, md5hex(text0))))
    // non-canonical doc loses the 12 passage tokens and its cleaned
    // fingerprint is the text WITHOUT the passage
    val cleaned1 = "c0 c1 c2 c3 c4 c5 c6 c7 d0 d1 d2 d3 d4 d5 d6 d7"
    assert(out(1L) === ((28L, 12L, 16L, md5hex(cleaned1))))
    assert(out(2L) === ((16L, 0L, 16L, md5hex(text2))))
  }

  test("span strip: identical docs — owner intact, duplicate fully stripped") {
    val spark0 = spark
    import spark0.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val text = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val docs = Seq((5L, text), (9L, text)).toDF("doc_id", "text")
    val out = graft.dedup.DedupQueries.spanStripFrame(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))).toMap
    assert(out(5L) === ((10L, 0L, 10L, md5hex(text))))
    // every position of doc 9 is covered by some shared window -> empty
    // cleaned doc, md5 of the empty string
    assert(out(9L) === ((10L, 10L, 0L, md5hex(""))))
  }

  test("bloom screen: planted cross-split exact dup flagged, min match, clean docs pass") {
    val spark0 = spark
    import spark0.implicits._
    // incoming docs are doc_id % 10 == 9. Doc 19 duplicates existing docs
    // 3 AND 7 (match must resolve to min = 3); doc 9 is whitespace/case
    // noise of doc 3 (normalized fingerprint still matches); doc 29 is
    // unique and must pass
    val docs = Seq(
      (3L, "alpha beta gamma"),
      (7L, "alpha beta gamma"),
      (11L, "something else entirely"),
      (9L, "  Alpha  beta   GAMMA "),
      (19L, "alpha beta gamma"),
      (29L, "fresh new content")).toDF("doc_id", "text")
    val out = graft.dedup.DedupQueries.bloomScreenFrame(docs).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(out.keySet === Set(9L, 19L, 29L))
    assert(out(9L) === ((true, Some(3L))))
    assert(out(19L) === ((true, Some(3L))))
    assert(out(29L) === ((false, None)))
  }

  test("pagerank: star graph — hub dominates, leaves tie, mass conserved") {
    val spark0 = spark
    import spark0.implicits._
    // hub 0 connected to leaves 1, 2, 3
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("doc_a", "doc_b")
    val out = graft.dedup.DedupQueries.pagerankFrame(pairs).collect()
    val m = out.map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(m.keySet === Set(0L, 1L, 2L, 3L))
    assert(m(0L)._1 === 3L)
    assert(m(1L)._1 === 1L)
    assert(m(0L)._2 > m(1L)._2)
    assert(m(1L)._2 === m(2L)._2 && m(2L)._2 === m(3L)._2)
    // no dangling nodes -> rank mass is conserved up to quantization
    val total = out.map(_.getDouble(2)).sum
    assert(math.abs(total - 1.0) < 1e-6)
    // quantized contributions make the sweeps partition-order-free
    val again = graft.dedup.DedupQueries.pagerankFrame(pairs.repartition(7))
      .collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("prefix filter: finds EXACTLY the naive full-join pair set on a generated corpus") {
    val spark0 = spark
    import spark0.implicits._
    // a small shared vocabulary forces shingle collisions; dup variants
    // exercise the ceil boundary at several set sizes (identical docs,
    // 1-appended, tiny docs below the shingle width)
    val vocab = Vector("red", "blue", "green", "ash", "oak", "elm",
      "fox", "owl", "ram", "ibex", "kite", "lark")
    val rnd = new scala.util.Random(7)
    def doc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 30).map(i => (i.toLong, doc(6 + rnd.nextInt(25))))
    val dups = (0 until 10).map { i =>
      val (src, t) = base(rnd.nextInt(base.size))
      val variant = rnd.nextInt(3) match {
        case 0 => t // identical
        case 1 => t + " " + vocab(rnd.nextInt(vocab.size)) // 1 appended
        case _ => t.split(" ").dropRight(1).mkString(" ") // 1 removed
      }
      (100L + i, variant)
    }
    val tiny = Seq((200L, "red blue"), (201L, "red blue")) // < 5 tokens
    val all = base ++ dups ++ tiny
    val got = graft.dedup.DedupQueries
      .prefixFilterFrame(all.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // in-memory naive: full 5-gram sets, exact Jaccard, same threshold
    def sets(t: String): Set[String] = {
      val w = t.split(" ").filter(_.nonEmpty)
      if (w.length < 5) Set.empty
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val byId = all.toMap.map { case (id, t) => id -> sets(t) }
    val want = (for {
      (a, sa) <- byId; (b, sb) <- byId
      if a < b && sa.nonEmpty && sb.nonEmpty
      i = (sa & sb).size
      j = i.toDouble / (sa.size + sb.size - i)
      if j >= graft.dedup.DedupQueries.PrefixJaccard
    } yield (a, b) -> j).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (k, j) =>
      assert(math.abs(got(k) - j) < 1e-12, s"pair $k")
    }
    assert(want.nonEmpty, "generator produced no dup pairs — test is vacuous")
  }

  test("triangles: square + one diagonal counts 2 triangles, transitivity 3/4") {
    val spark0 = spark
    import spark0.implicits._
    // 1-2, 2-3, 3-4, 4-1, plus diagonal 1-3: triangles {1,2,3} and
    // {1,3,4}; degrees 3,2,3,2 -> wedges 3+1+3+1 = 8; 3*2/8 = 0.75
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("doc_a", "doc_b")
    val r = graft.dedup.DedupQueries.triangleStats(edges).collect()(0)
    assert(r.getAs[Long]("n_edges") === 5L)
    assert(r.getAs[Long]("n_wedges") === 8L)
    assert(r.getAs[Long]("n_triangles") === 2L)
    assert(r.getAs[Double]("transitivity") === 0.75)
    // orientation is a counting device, not a semantic: any partitioning
    // must produce the identical census
    val again = graft.dedup.DedupQueries.triangleStats(edges.repartition(7))
      .collect()(0)
    assert(r.toSeq === again.toSeq)
  }

  test("triangles: edgeless graph reports zeros and NULL transitivity") {
    val spark0 = spark
    import spark0.implicits._
    val r = graft.dedup.DedupQueries.triangleStats(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).collect()(0)
    assert(r.getAs[Long]("n_edges") === 0L)
    assert(r.getAs[Long]("n_triangles") === 0L)
    assert(r.isNullAt(r.fieldIndex("transitivity")))
  }

  test("phrase search: consecutive-only matches, counts, first pos, snippet") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Seq(
      (0L, "x table scan merge y table scan merge z"), // 2 occurrences
      (1L, "table merge scan table x"), // all terms, never consecutive
      (2L, "table scan merge"), // doc == phrase; snippet truncates
      (3L, "nothing here")).toDF("doc_id", "text")
    val out = TextQueries.phraseFrame(docs, Seq("table", "scan", "merge"))
      .collect()
    // the bag-of-words doc (1) must NOT match — that's the positional claim
    assert(out.map(_.getLong(0)).toSeq === Seq(0L, 2L))
    val m = out.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(m(0L) === ((2L, 1L, "table scan merge y table")))
    assert(m(2L) === ((1L, 0L, "table scan merge")))
  }

  test("phrase search: repeated-term phrase fills every slot") {
    val spark0 = spark
    import spark0.implicits._
    // phrase "go go stop": a posting votes once per slot its token fills,
    // and only a start with ALL distinct slots confirmed is an occurrence
    val docs = Seq(
      (0L, "go go stop go"), // occurrence at 0 only
      (1L, "go stop go stop")) // no consecutive "go go" anywhere
      .toDF("doc_id", "text")
    val out = TextQueries.phraseFrame(docs, Seq("go", "go", "stop")).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(0L))
    assert(out.head.getLong(1) === 1L)
    assert(out.head.getLong(2) === 0L)
  }

  test("keyword extract: repeated distinctive term tops, ubiquitous term scores 0") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Seq(
      (0L, "rare rare rare common alpha"),
      (1L, "common beta beta"),
      (2L, "common gamma"),
      (3L, "common delta")).toDF("doc_id", "text")
    val out = TextQueries.keywordFrame(docs).collect()
    // docs with < 3 distinct tokens emit fewer rows: 3 + 2 + 2 + 2
    assert(out.length === 9)
    val kw0 = out.filter(_.getLong(0) == 0L).sortBy(_.getInt(1))
    // tf=3 x idf(df=1) beats tf=1 x idf(df=1) beats common (idf ln(1)=0)
    assert(kw0.map(_.getString(2)).toSeq === Seq("rare", "alpha", "common"))
    assert(kw0.last.getDouble(3) === 0.0)
    // every doc's #1 keyword is never the ubiquitous term
    val tops = out.filter(_.getInt(1) == 1).map(_.getString(2))
    assert(!tops.contains("common"))
  }

  test("bm25: tf monotone within a term, rare term outscores common ones") {
    val spark0 = spark
    import spark0.implicits._
    // same length docs; 0 has the query term twice, 1 once, 2 never;
    // doc 3 hits only the corpus-common term ("filler" appears everywhere,
    // so its idf — and score — must be strictly smaller than the rare
    // term's despite identical tf/dl
    val docs = Seq(
      (0L, "dup x1 dup x2 x3 x4"),
      (1L, "dup y1 y2 y3 y4 y5"),
      (2L, "z0 z1 z2 z3 z4 z5"),
      (3L, "sort w1 w2 w3 w4 w5"),
      (4L, "sort sort v1 v2 v3 v4"))
      .toDF("doc_id", "text")
    val out = graft.text.TextQueries.bm25Frame(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("score"), r.getAs[Long]("terms_hit"))).toMap
    assert(!out.contains(2L))
    assert(out.keySet === Set(0L, 1L, 3L, 4L))
    assert(out(0L)._1 > out(1L)._1) // tf=2 beats tf=1 for the same term
    assert(out(4L)._1 > out(3L)._1) // same for the other term
    // "dup" (df=2/5) must outscore "sort" (df=2/5)? equal df -> equal idf;
    // equal tf and dl -> equal scores: the SCORE function only sees stats
    assert(math.abs(out(1L)._1 - out(3L)._1) < 1e-12)
    assert(out.values.forall(_._2 === 1L))
  }

  test("minhash property: identical shingle sets share every band hash") {
    val spark0 = spark
    import spark0.implicits._
    // two identical docs + one different; identical docs must produce
    // identical min-md5 signatures for every seed
    val sh = Seq(
      (0L, "x y"), (0L, "y z"), (1L, "x y"), (1L, "y z"), (2L, "q r"))
      .toDF("doc_id", "sh")
    val sigs = (0 until 4).map(i =>
      min(md5(concat(lit(s"$i:"), col("sh")))).as(s"s$i"))
    val out = sh.groupBy("doc_id").agg(sigs.head, sigs.tail: _*)
      .orderBy("doc_id").collect()
    (1 to 4).foreach(i => assert(out(0).getString(i) === out(1).getString(i)))
    assert((1 to 4).exists(i => out(0).getString(i) !== out(2).getString(i)))
  }

  test("dup span mass: planted passage contributes exactly its token count on BOTH sides") {
    val spark0 = spark
    import spark0.implicits._
    // the span-strip fixture: docs 0 and 1 share a 12-token passage ->
    // unlike the strip (owner keeps), the MASS metric counts the covered
    // tokens in BOTH docs; doc 2 is clean
    val passage = "p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11"
    val docs = Seq(
      (0L, "en", s"a0 a1 a2 a3 a4 a5 a6 a7 $passage b0 b1 b2 b3 b4 b5 b6 b7"),
      (1L, "en", s"c0 c1 c2 c3 c4 c5 c6 c7 $passage d0 d1 d2 d3 d4 d5 d6 d7"),
      (2L, "fr", "e0 e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 e11 e12 e13 e14 e15"))
      .toDF("doc_id", "lang", "text")
    val out = graft.dedup.DedupQueries.dupSpanMassFrame(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(out("en") === ((2L, 2L, 56L, 24L, 24.0 / 56.0)))
    assert(out("fr") === ((1L, 0L, 16L, 0L, 0.0)))
  }

  test("paragraph pairs: shared 64-token chunk found where whole-doc Jaccard is sub-threshold") {
    val spark0 = spark
    import spark0.implicits._
    // 128-token docs sharing exactly their FIRST/SECOND chunk: whole-doc
    // 3-gram Jaccard ~ 62/(126+126-62) ~ 0.33 < 0.5 (invisible to the
    // whole-doc screen), but the shared chunk matches at J = 1.0
    val para = (1 to 64).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, para + " " + (1 to 64).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 64).map(i => s"b$i").mkString(" ") + " " + para),
      (3L, (1 to 128).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    // whole-doc screen really is blind to this pair
    val wholeDoc = graft.dedup.DedupQueries.ngramJaccardFrame(docs)
      .filter(col("jaccard") >= graft.dedup.DedupQueries.ClusterJaccard).collect()
    assert(wholeDoc.isEmpty, s"fixture not sub-threshold: ${wholeDoc.toSeq}")
    val out = graft.dedup.DedupQueries.paragraphPairsFrame(docs).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("doc_a") === 1L && r.getAs[Long]("doc_b") === 2L)
    assert(r.getAs[Long]("n_dup_chunks") === 1L)
    assert(r.getAs[Double]("max_jaccard") === 1.0)
  }

  test("naive-bayes quality: separable fixture classified in full agreement with labels") {
    val spark0 = spark
    import spark0.implicits._
    // keep docs: 60 distinct content words -> score 1.0; drop docs: all
    // stopwords -> score 0. Class vocabularies are disjoint, so the NB
    // posterior must agree with the heuristic label on every doc, with a
    // positive LLR on keeps and negative on drops.
    val keepText = (1 to 60).map(i => s"w$i").mkString(" ")
    val dropText = "the of the of and to in a"
    val docs = Seq(
      (1L, keepText), (2L, keepText + " extra"), (3L, dropText),
      (4L, "a the of and the of in to")).toDF("doc_id", "text")
    val out = graft.text.TextQueries.qualityNbFrame(docs).collect()
    assert(out.length === 4)
    out.foreach { r =>
      assert(r.getAs[Boolean]("agree"), s"NB disagreed on ${r.getLong(0)}: $r")
      val llr = r.getAs[Double]("nb_llr")
      if (r.getAs[String]("heur_label") == "keep") assert(llr > 0, r.toString)
      else assert(llr < 0, r.toString)
    }
  }

  test("bpeTrain: greedy left-to-right merges, multi-symbol rules, lexicographic ties") {
    val spark0 = spark
    import spark0.implicits._
    // "aaab" x3: pair counts round 1: (a,a)=2*3=6, (a,b)=3 -> merge aa;
    // GREEDY left-to-right segments "aaab" as [aa, a, b] (not [a, aa, b]).
    // Round 2 over {aaab->[aa,a,b] x3, cd x2, cde x1}: (aa,a)=3, (a,b)=3,
    // (c,d)=3 -> lexicographic tie-break: (a,b)... wait (aa,a) vs (a,b):
    // 'aa' < 'ab' stringwise? compare a='aa' vs a='a': 'a' < 'aa', so
    // (a,b) with a='a' sorts before (aa,a) -> merge (a,b).
    // Round 3: {[aa,ab] x3, [c,d] x2, [c,d,e]}: (aa,ab)=3, (c,d)=3 ->
    // (aa,ab) wins ('aa' < 'c') -> merged 'aaab', a multi-symbol rule.
    val docs = (Seq.fill(3)("aaab") ++ Seq.fill(2)("cd") ++ Seq("cde"))
      .map(w => w).toDF("text")
    val m = TextQueries.bpeTrain(docs, 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(m === Seq(
      (1, "a", "a", "aa", 6L),
      (2, "a", "b", "ab", 3L),
      (3, "aa", "ab", "aaab", 3L)))
  }

  test("capBuckets: oversize band buckets drop, small ones survive intact") {
    val spark0 = spark
    import spark0.implicits._
    import graft.dedup.DedupQueries
    // one bucket 2 docs past the cap, one safe bucket, one exactly AT it
    val cap = DedupQueries.BandBucketCap
    val bands =
      ((1 to cap + 2).map(i => (i.toLong, 0, "hot")) ++
        Seq((100L, 0, "cold"), (101L, 0, "cold")) ++
        (200 until 200 + cap).map(i => (i.toLong, 1, "edge")))
        .toDF("doc_id", "b", "bk")
    val kept = DedupQueries.capBuckets(bands)
      .groupBy("b", "bk").count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(!kept.contains((0, "hot")), "bucket past the cap must vanish")
    assert(kept((0, "cold")) === 2L)
    assert(kept((1, "edge")) === cap.toLong, "bucket AT the cap survives")
    // and the planted near-dup pipeline still finds its pair under the cap
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (2L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 zz"),
      (3L, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9")).toDF("doc_id", "text")
    val pairs = DedupQueries.minhashJaccardFrame(docs).collect()
    assert(pairs.forall(r => (r.getLong(0), r.getLong(1)) == (1L, 2L)))
  }

  test("bigram-LM perplexity is bit-identical at any input partitioning") {
    // the end-to-end determinism claim behind the per-type quantization +
    // exact-LONG doc sums: the transcendental-laden pipeline must produce
    // RAW-BIT-equal doubles whatever the partition/merge order
    val docs = graft.Tables.documents(spark, sf)
    def bits(parts: Int): Seq[(Long, Long, Long, Long)] =
      TextQueries.lmPerplexityFrame(docs.repartition(parts))
        .orderBy("doc_id").collect().toSeq.map { r =>
          (r.getLong(0), r.getLong(1),
            java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
            java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
        }
    val a = bits(1)
    val b = bits(13)
    assert(a.nonEmpty)
    assert(a === b, "perplexity bits drifted across partitionings")
  }

  test("incremental screen: planted cross-batch near-dup found, within-batch ignored") {
    val spark0 = spark
    import spark0.implicits._
    import graft.text.TextFns
    import org.apache.spark.sql.functions.{col, lit, concat_ws}
    // deterministic search for texts on each side of the batch line: the
    // bucket is content-hash derived, so the test derives it the same way
    // instead of hard-coding strings that could drift with the constants
    def bucket(text: String): Long =
      Seq(text).toDF("text")
        .select((TextFns.hash60(TextFns.normText(col("text"))) % 100).as("b"))
        .collect()(0).getLong(0)
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val variants = (0 until 64).map(seed => s"$base tail$seed")
    val existing = variants.find(t =>
      bucket(t) < graft.dedup.DedupQueries.IncrementalIncomingBucket).get
    val incoming = variants.find(t =>
      bucket(t) >= graft.dedup.DedupQueries.IncrementalIncomingBucket).get
    // unrelated existing doc: must never surface as a match
    val noise = (1 to 40).map(i => s"z$i").mkString(" ")
    val docs = Seq(
      (1L, existing), (2L, noise), (3L, incoming))
      .toDF("doc_id", "text")
    val out = graft.dedup.DedupQueries.incrementalScreenFrame(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 3 (incoming) shares 39 of its 41 2-gram shingles with doc 1:
    // J = 39/43 ≈ 0.907 — flagged with doc 1 as the match; docs 1/2 are
    // existing-side and must not appear as screened docs
    assert(out.map(_._1).toSeq === Seq(3L))
    assert(out.head._2 === 1L)
    assert(out.head._3 > 0.8)
  }

  test("cross-family clusters are identical at any shuffle partitioning") {
    // the scale-honesty claim behind every cap/band/union-find in the
    // cluster pipeline: DF caps, LSH buckets, simhash votes and the
    // single-task union-find must admit/produce the SAME pairs and labels
    // however the work is partitioned — if a cap or a merge were
    // partition-sensitive, 32 local threads and 1000 executors would
    // disagree, and no oracle at one partitioning would prove anything
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def run(parts: Int): Seq[Seq[Any]] =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        graft.dedup.DedupQueries.clustersMulti.frame(spark, sf)
          .collect().toSeq.map(_.toSeq)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val a = run(2)
    val b = run(17)
    assert(a.nonEmpty)
    assert(a === b, "cluster assignment drifted across shuffle partitionings")
  }

  test("longest span: a 10-token verbatim block is a 3-window run; " +
    "scattered blocks stay runs of 1") {
    val spark0 = spark
    import spark0.implicits._
    val n = graft.dedup.DedupQueries.SpanN // 8
    def words(p: String, k: Int) = (1 to k).map(i => s"$p$i")
    val shared10 = words("s", 10) // 10-token contiguous block
    val blockW = words("w", n) // two scattered 8-token blocks
    val blockX = words("x", n)
    val docA = (words("a", 20) ++ shared10 ++ words("c", 10) ++ blockW ++
      words("d", 10) ++ blockX ++ words("e", 10)).mkString(" ")
    val docB = (words("f", 15) ++ shared10 ++ words("g", 15)).mkString(" ")
    val docC = (words("h", 10) ++ blockW ++ words("i", 12) ++ blockX ++
      words("j", 10)).mkString(" ")
    val out = graft.dedup.DedupQueries.longestSpanFrame(
      Seq(0L -> docA, 1L -> docB, 2L -> docC).toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("n_window_matches"), r.getAs[Long]("longest_run"),
          r.getAs[Long]("longest_span_tokens"))).toMap
    // A-B: the 10-token block = 3 consecutive shared 8-windows on one
    // diagonal -> longest span reads back the block's exact length
    assert(out((0L, 1L)) === ((3L, 3L, 10L)))
    // A-C: two 8-token blocks at non-adjacent positions = two separate
    // 1-window runs — a bag count of 2 but NO contiguity beyond 8 tokens
    assert(out((0L, 2L)) === ((2L, 1L, 8L)))
    assert(!out.contains((1L, 2L)))
  }

  test("source quota: dominant source is capped, minor sources keep all") {
    val spark0 = spark
    import spark0.implicits._
    // "big" holds ~95% of token mass (way over the 4.8% cap); each minor
    // source holds ~2.4% (under it). Distinct texts so the content-hash
    // selector sees distinct draws.
    val docs = ((1 to 200).map(i => (i.toLong, "big", s"alpha beta doc$i")) ++
      (201 to 205).map(i => (i.toLong, "small_a", s"gamma delta doc$i")) ++
      (206 to 210).map(i => (i.toLong, "small_b", s"epsilon zeta doc$i")))
      .toDF("doc_id", "source", "text")
    val out = TextQueries.sourceQuotaFrame(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val big = out("big")
    assert(big.getAs[Long]("keep_ppm") < 1000000L)
    assert(big.getAs[Long]("docs_kept") < big.getAs[Long]("docs_in"))
    for (s <- Seq("small_a", "small_b")) {
      assert(out(s).getAs[Long]("keep_ppm") === 1000000L)
      assert(out(s).getAs[Long]("docs_kept") === out(s).getAs[Long]("docs_in"))
      assert(out(s).getAs[Long]("toks_kept") === out(s).getAs[Long]("toks_in"))
    }
    // realized shares are shares of the KEPT corpus and sum to 1
    val total = out.values.map(_.getAs[Double]("realized_share")).sum
    assert(math.abs(total - 1.0) < 1e-9)
  }

  test("unigram LM: fertility bounded by piece geometry, EM prunes the " +
    "seed inventory, deterministic across runs") {
    val rows = TextQueries.unigramLm.frame(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, c, t) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("n_tokens"))
      // every word is 1..len pieces of 1..UniMaxPieceLen chars
      assert(t >= c / TextQueries.UniMaxPieceLen && t >= w && t <= c,
        s"fertility out of bounds: words=$w chars=$c tokens=$t")
      assert(r.getAs[Long]("vocab_size") > 0)
    }
    // the trained inventory is SMALLER than the seed substring inventory
    // (EM pruning did something): recount the seed from the corpus
    val spark0 = spark
    import spark0.implicits._
    val seed = graft.Tables.documents(spark, sf)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .distinct()
      .flatMap { r =>
        val w = r.getString(0)
        for (s <- 1 to w.length;
             l <- 1 to math.min(TextQueries.UniMaxPieceLen, w.length - s + 1))
          yield w.substring(s - 1, s - 1 + l)
      }.distinct().count()
    assert(rows.head.getAs[Long]("vocab_size") < seed,
      s"EM kept the whole seed inventory ($seed pieces)")
    val again = TextQueries.unigramLm.frame(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  // The Viterbi-DP E-step must reproduce the bounded enumeration's exact
  // argmax (same total order: sumq DESC, np, seg) wherever enumeration is
  // defined — and keep working past the enumeration's 2^(len-1) wall.
  test("unigram E-step: Viterbi DP == bounded enumeration; handles words past the enum cap") {
    val spark0 = spark
    import spark0.implicits._
    // the full corpus vocab (max word length 8 here — enumerable)
    val vocab = graft.Tables.documents(spark, sf)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val scores = TextQueries.uniSeedScores(vocab).localCheckpoint()
    val dp = TextQueries.uniSegment(vocab, scores)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val en = TextQueries.uniSegmentEnum(vocab, scores)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(dp.nonEmpty)
    assert(dp.toSeq === en.toSeq)
    // a 20-char word (2^19 masks — far past the enum budget) segments in
    // linear time; with uniform piece scores the argmax is the unique
    // fewest-pieces split: five 4-char pieces
    val longWord = "abcdefghijklmnopqrst"
    val vocab2 = Seq((longWord, 1L)).toDF("word", "cnt")
    val pieces = (for {
      s0 <- 0 until longWord.length
      l <- 1 to TextQueries.UniMaxPieceLen if s0 + l <= longWord.length
    } yield longWord.substring(s0, s0 + l)).distinct
    val scores2 = pieces.map(p => (p, -1000000000L)).toDF("piece", "q")
    val out = TextQueries.uniSegment(vocab2, scores2).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Int]("np") === 5)
    assert(out.head.getAs[String]("seg") === "|abcd||efgh||ijkl||mnop||qrst|")
  }

  // LPA must resolve COHESION where CC only sees reachability: a barbell
  // (two triangles joined by one bridge edge) is ONE connected component
  // but TWO communities. Hand-derived synchronous-sweep trace (ties ->
  // min label): lab3 = {1,2,3}->1 and {4,5,6}->3. Also pins the
  // internal-edge count (3 per triangle; the bridge is cross-community).
  test("communitiesFrame: barbell splits into two communities (CC would not)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = graft.dedup.DedupQueries.communitiesFrame(edges)
      .collect().map(r => (r.getAs[Long]("community_id"),
        r.getAs[Long]("size"), r.getAs[Long]("internal_edges")))
    assert(got.toSeq === Seq((1L, 3L, 3L), (3L, 3L, 3L)))
    // and CC genuinely cannot split it: one component
    val cc = graft.dedup.DedupQueries.connectedComponents(
      edges.select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select("label").distinct().count()
    assert(cc === 1L)
  }

  test("tokenDrift: planted leaning tokens surface on the right side; z replays in plain Scala") {
    val spark0 = spark
    import spark0.implicits._
    def h60(x: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    // two sources landing in DIFFERENT content-hash groups
    val srcs = (0 until 50).map(i => s"s$i")
    val sa = srcs.find(h60(_) % 2 == 0).get
    val sb = srcs.find(h60(_) % 2 == 1).get
    // shared filler everywhere; 'alpha' lives only in group A docs,
    // 'beta' only in group B
    val docs = (
      (1 to 6).map(i => (i.toLong, "x y alpha alpha", "en", sa, 10L)) ++
        (11 to 16).map(i => (i.toLong, "x y beta beta", "en", sb, 10L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextQueries.tokenDriftFrame(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    val (aTop, bTop) = (got(("group_a", 1L)), got(("group_b", 1L)))
    assert(aTop._1 === "alpha" && aTop._2 === 12L && aTop._3 === 0L)
    assert(bTop._1 === "beta" && bTop._2 === 0L && bTop._3 === 12L)
    assert(aTop._4 > 0 && bTop._4 < 0)
    // plain-Scala replay of alpha's z: y_a=12, y_b=0, n_a=n_b=24
    val (ya, yb, na, nb, al) = (12.0, 0.0, 24.0, 24.0, 0.5)
    val delta = math.log((ya + al) / (na + 1.0 - ya - al)) -
      math.log((yb + al) / (nb + 1.0 - yb - al))
    val z = delta / math.sqrt(1.0 / (ya + al) + 1.0 / (yb + al))
    assert(aTop._4 === math.floor(z * 1e9 + 0.5) / 1e9)
    // symmetric filler: x/y counts equal in both groups -> z exactly the
    // smoothing-only residue, identical for both, far from the leaders
    assert(math.abs(got(("group_a", 1L))._4) >
      math.abs(got.filter(_._2._1 == "x").values.head._4))
  }

  test("sampleNeyman: plain-Scala apportionment replay; zero-variance stratum gets nothing, tiny high-variance stratum caps at N_h") {
    val spark0 = spark
    import spark0.implicits._
    def h60(x: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    // a: mid variance; b: CONSTANT (sigma 0 -> no budget); c: tiny but
    // wild (its Neyman quota exceeds N_h -> capped at 4)
    val rows =
      (1 to 10).map(i => (i.toLong, "a", 100L + (i % 2) * 200L)) ++
        (11 to 50).map(i => (i.toLong, "b", 200L)) ++
        (51 to 54).map(i => (i.toLong, "c", ((i % 2) * 5000).toLong))
    val docs = rows.map { case (id, l, nc) => (id, "t", l, s"s$id", nc) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextQueries.neymanFrame(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getLong(5), r.getDouble(6),
        if (r.isNullAt(7)) None else Some(r.getDouble(7))))).toMap
    // plain-Scala replay of the whole design
    val byLang = rows.groupBy(_._2)
    val stats = byLang.map { case (l, rs) =>
      val n = rs.size.toLong
      val sx = rs.map(_._3).sum
      val sxx = rs.map(r => r._3 * r._3).sum
      val sigma = if (n > 1)
        math.sqrt((sxx - sx.toDouble * sx / n) / (n - 1).toDouble) else 0.0
      l -> ((n, sx, sigma,
        math.floor(n.toDouble * sigma * 1e9 + 0.5).toLong))
    }
    val budget = rows.size.toLong / TextQueries.NeymanBudgetDiv
    val wqTot = stats.values.map(_._4).sum
    val quotas = stats.map { case (l, (n, _, _, wq)) =>
      val q = budget.toDouble * (wq.toDouble / wqTot.toDouble)
      val base = math.floor(q).toLong
      (l, n, base, math.floor((q - base) * 1e9 + 0.5).toLong)
    }.toSeq
    val leftover = budget - quotas.map(_._3).sum
    val ranked = quotas.sortBy(t => (-t._4, t._1)).zipWithIndex
    val allocExp = ranked.map { case ((l, n, base, _), i) =>
      l -> math.min(base + (if (i < leftover) 1L else 0L), n)
    }.toMap
    got.foreach { case (l, (n, sigma, _, alloc, nSampled, _, _)) =>
      assert(n === stats(l)._1)
      assert(sigma === stats(l)._3, s"sigma $l")
      assert(alloc === allocExp(l), s"alloc $l")
      assert(nSampled === alloc)
    }
    // design properties: zero-variance stratum unfunded; wild stratum
    // capped at its size; the budget is spent up to the cap shortfall
    assert(got("b")._4 === 0L)
    assert(got("c")._4 === 4L)
    assert(got.values.map(_._4).sum <= budget)
    // sample means replay through the content-hash draw
    val drawMeans = byLang.map { case (l, rs) =>
      val picked = rs.sortBy(r => (h60(r._1.toString), r._1))
        .take(allocExp(l).toInt)
      l -> (if (picked.isEmpty) None
            else Some(picked.map(_._3).sum.toDouble / picked.size))
    }
    got.foreach { case (l, t) => assert(t._7 === drawMeans(l), s"mean $l") }
  }

  test("splitLeakageFrame: exact dups can never straddle the content-hash split; a planted near-dup pair across splits is flagged") {
    val spark0 = spark
    import spark0.implicits._
    def h60(x: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def splitOf(text: String): String = {
      val b = h60(text) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    // near-dup pair builder: 60 distinct tokens, variant differs in the
    // last -> 2-gram Jaccard 58/60; searched so the pair's splits meet
    // the wanted relation (the hash decides, so the spec searches)
    def mk(tag: String, i: Int): (String, String) = {
      val toks = (0 until 60).map(n => s"$tag${i}w$n")
      (toks.mkString(" "), (toks.init :+ s"$tag${i}x").mkString(" "))
    }
    def find(tag: String, cross: Boolean): (String, String) =
      Iterator.from(0).map(mk(tag, _)).find { case (a, b) =>
        (splitOf(a) != splitOf(b)) == cross
      }.get
    val (leakA, leakB) = find("leak", cross = true)
    val (ctlA, ctlB) = find("ctl", cross = false)
    val dupText = (0 until 10).map(n => s"dupz$n").mkString(" ")
    val docs = Seq(
      (1L, leakA), (2L, leakB), (3L, ctlA), (4L, ctlB),
      (5L, dupText), (6L, dupText))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // generic plain-Scala replay: each planted pair's (split_a, split_b,
    // quantized J) aggregated the same way
    def q9(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    val pairExp = Seq(
      (splitOf(leakA), splitOf(leakB), q9(58.0 / 60.0)),
      (splitOf(ctlA), splitOf(ctlB), q9(58.0 / 60.0)),
      (splitOf(dupText), splitOf(dupText), q9(1.0)))
      .map { case (x, y, j) =>
        (if (x <= y) (x, y) else (y, x), j)
      }
    val expected = pairExp.groupBy(_._1).map { case (k, ps) =>
      k -> ((ps.size.toLong,
        ps.map(p => p._2).sum / 1e9 / ps.size))
    }
    val got = graft.dedup.DedupQueries.splitLeakageFrame(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(4), r.getBoolean(5),
          r.getDouble(3)))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, (n, avgJ)) =>
      assert(got(k)._1 === n, s"n_pairs of $k")
      assert(got(k)._2 === avgJ, s"avg_jaccard of $k")
      assert(got(k)._3 === (k._1 != k._2), s"verdict of $k")
    }
    // the planted cross-split pair IS flagged
    assert(got.exists { case (k, v) => k._1 != k._2 && v._3 })
    // exact dups share normText hence the split: their cell can never
    // be a leakage cell
    val dupKey = (splitOf(dupText), splitOf(dupText))
    assert(!got(dupKey)._3)
    // shares are exact n/total
    val total = expected.values.map(_._1).sum.toDouble
    got.foreach { case (k, v) =>
      assert(v._4 === expected(k)._1.toDouble / total, s"share of $k") }
  }

  test("yieldCurveFrame: graded-pair fixture — curve replays the mined pairs exactly, monotone in the threshold") {
    val spark0 = spark
    import spark0.implicits._
    def doc(id: Long, toks: Seq[String]) =
      (id, toks.mkString(" "), "en", "s", 1L)
    // graded duplicate strengths: exact (J=1), strong (58/60), and two
    // partial overlaps; singles as background
    val w = (1 to 60).map(n => s"w$n")
    val docs = Seq(
      doc(1, (1 to 10).map(n => s"a$n")), doc(2, (1 to 10).map(n => s"a$n")),
      doc(3, w), doc(4, w.init :+ "wX"),
      doc(5, (1 to 20).map(n => s"b$n")),
      doc(6, (1 to 17).map(n => s"b$n") ++ Seq("bx", "by", "bz")),
      doc(7, (1 to 12).map(n => s"c$n")),
      doc(8, (1 to 9).map(n => s"c$n") ++ Seq("cx", "cy", "cz")),
      doc(9, (1 to 30).map(n => s"q$n")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // ground truth = the pair mine itself (band-catch is probabilistic
    // per pair; the curve's job is aggregating what WAS mined)
    val mined = graft.dedup.DedupQueries.minhashJaccardFrame(docs)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the exact pair is always caught (identical signatures collide in
    // every band) and the strong pair at 58/60 survives banding here
    assert(mined.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
    assert(mined.exists { case (a, b, _) => a == 3L && b == 4L })
    val got = graft.dedup.DedupQueries.yieldCurveFrame(docs).collect()
      .map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(got.keySet === graft.dedup.DedupQueries.YieldThresholds.toSet)
    graft.dedup.DedupQueries.YieldThresholds.foreach { t =>
      val pairsT = mined.filter(_._3 >= t)
      val docsT = pairsT.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
      val (np, nd, n, share, yld) = got(t)
      assert(np === pairsT.length.toLong, s"pairs at $t")
      assert(nd === docsT, s"docs at $t")
      assert(n === 9L)
      assert(share === docsT.toDouble / 9.0)
      assert(yld === (9L - docsT).toDouble / 9.0)
    }
    // monotone: tightening the threshold never adds pairs or docs
    val ts = graft.dedup.DedupQueries.YieldThresholds
    ts.zip(ts.tail).foreach { case (lo, hi) =>
      assert(got(lo)._1 >= got(hi)._1 && got(lo)._2 >= got(hi)._2)
    }
    // the exact pair survives every threshold
    assert(got(0.9)._1 >= 1L)
  }

  test("unseenMassFrame: hand trigram counts — Turing P0 and Chao1 exact; short docs contribute nothing") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Seq(
      // xx: trigrams {a b c: 2, b c d: 1} -> N=3 V=2 N1=1 N2=1
      (1L, "a b c d", "xx", "s", 7L),
      (2L, "a b c", "xx", "s", 5L),
      // yy: all singletons -> N=3 V=3 N1=3 N2=0; the 2-token doc adds
      // no trigram
      (3L, "p q r s t", "yy", "s", 9L),
      (4L, "p q", "yy", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextQueries.unseenMassFrame(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val xx = got("xx")
    assert((xx.getLong(1), xx.getLong(2), xx.getLong(3), xx.getLong(4))
      === ((3L, 2L, 1L, 1L)))
    assert(xx.getAs[Double]("unseen_mass") === 1.0 / 3.0)
    assert(xx.getAs[Double]("coverage") === 1.0 - 1.0 / 3.0)
    // chao1 = 2 + 1*0/(2*2) = 2 (a doubleton-backed corpus adds nothing)
    assert(xx.getAs[Double]("chao1") === 2.0)
    val yy = got("yy")
    assert((yy.getLong(1), yy.getLong(2), yy.getLong(3), yy.getLong(4))
      === ((3L, 3L, 3L, 0L)))
    // all mass unseen-adjacent: P0 = 1.0, chao1 = 3 + 3*2/2 = 6
    assert(yy.getAs[Double]("unseen_mass") === 1.0)
    assert(yy.getAs[Double]("chao1") === 6.0)
  }

  test("aucFrame: separable ranking scores 1.0; class-symmetric scores 0.5; tie midranks match the hand pair count") {
    val spark0 = spark
    import spark0.implicits._
    def auc(rows: Seq[(String, Double)]): (Long, Long, Long, Double, Double) = {
      val r = TextQueries.aucFrame(rows.toDF("heur_label", "nb_llr"))
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))
    }
    // SEPARABLE, power-of-two counts so every trapezoid term is an exact
    // binary fraction: both areas land on exactly 1.0
    val sep = (1 to 4).map(i => ("keep", 10.0 + i)) ++
      (1 to 4).map(i => ("drop", i.toDouble))
    val (p1, n1, g1, roc1, pr1) = auc(sep)
    assert((p1, n1, g1) === ((4L, 4L, 8L)))
    assert(roc1 === 1.0 && pr1 === 1.0)
    // CLASS-SYMMETRIC score distributions: AUC exactly 1/2 (every pair
    // has its mirror), the no-signal floor a shuffled-label filter hits
    val sym = Seq(("keep", 1.0), ("keep", 2.0), ("drop", 1.0), ("drop", 2.0))
    assert(auc(sym)._4 === 0.5)
    // TIE CORRECTION by hand: P=N=2, pairs = 3 wins + 1 tie (at score 5)
    // -> (3 + 0.5)/4 = 0.875; distinct-score groups = 3
    val tie = Seq(("keep", 10.0), ("keep", 5.0), ("drop", 5.0), ("drop", 0.0))
    val (p3, n3, g3, roc3, _) = auc(tie)
    assert((p3, n3, g3) === ((2L, 2L, 3L)))
    assert(roc3 === 0.875)
    // plain-Scala replay on a mixed fixture: midrank rank-sum + anchored
    // trapezoid with per-term 1e-9 quantization, bit-for-bit
    val mix = Seq(("keep", 9.0), ("drop", 9.0), ("keep", 7.5), ("keep", 6.0),
      ("drop", 6.0), ("drop", 6.0), ("keep", 2.0), ("drop", 1.0),
      ("keep", 1.0), ("drop", -3.5))
    val (pm, nm, gm, rocM, prM) = auc(mix)
    val grouped = mix.groupBy(t => math.floor(t._2 * 1e9 + 0.5).toLong)
      .toSeq.map { case (sq, rs) =>
        (sq, rs.size.toLong, rs.count(_._1 == "keep").toLong)
      }
    val asc = grouped.sortBy(_._1)
    val pTot = asc.map(_._3).sum
    val nTot = asc.map(t => t._2 - t._3).sum
    val cums = asc.scanLeft(0L)((c, t) => c + t._2).init
    val r2 = asc.zip(cums).map { case ((_, cnt, pos), cum) =>
      pos * (2 * cum + cnt + 1)
    }.sum
    val rocExp = (r2 - pTot * (pTot + 1)).toDouble / (2 * pTot * nTot).toDouble
    val desc = asc.reverse
    val tps = desc.scanLeft(0L)((c, t) => c + t._3).tail
    val fps = desc.scanLeft(0L)((c, t) => c + (t._2 - t._3)).tail
    val recs = tps.map(_.toDouble / pTot.toDouble)
    val precs = tps.zip(fps).map { case (tp, fp) =>
      tp.toDouble / (tp + fp).toDouble }
    val prExp = recs.zip(precs).zipWithIndex.map { case ((rc, pc), i) =>
      val rp = if (i == 0) 0.0 else recs(i - 1)
      val pp = if (i == 0) 1.0 else precs(i - 1)
      math.floor((rc - rp) * (pc + pp) * 0.5 * 1e9 + 0.5).toLong
    }.sum.toDouble / 1e9
    assert((pm, nm, gm) === ((pTot, nTot, asc.size.toLong)))
    assert(rocM === rocExp)
    assert(prM === prExp)
  }
}
