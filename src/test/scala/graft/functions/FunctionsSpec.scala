package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.api.Det

class FunctionsSpec extends SparkSpec {

  test("VecDot == composed aggregate(zip_with) fold, bit-exact incl. edge cases") {
    val spark0 = spark
    import spark0.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2, 0.3), Seq(-0.4, 0.5, 1e300)),
      (Seq.empty[Double], Seq.empty[Double]))
      .toDF("a", "b")
    val rows = df.select(
      call_function("vec_dot", col("a"), col("b")).as("fast"),
      graft.sim.SimFns.dotComposed(col("a"), col("b")).as("composed")).collect()
    rows.foreach { r =>
      // compare raw bits so -0.0 vs 0.0 or any ulp drift fails loudly
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("VecDot null semantics match zip_with padding: length mismatch -> null") {
    val spark0 = spark
    import spark0.implicits._
    GraftFunctions.register(spark)
    val r = Seq((Seq(1.0, 2.0), Seq(1.0)))
      .toDF("a", "b")
      .select(
        call_function("vec_dot", col("a"), col("b")).as("fast"),
        graft.sim.SimFns.dotComposed(col("a"), col("b")).as("composed"))
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("FuseVecDotRule rewrites the composed fold idiom, leaves other folds alone") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .select(graft.sim.SimFns.dotComposed(col("a"), col("b")).as("d"))
    val after = FuseVecDotRule(df.queryExecution.analyzed)
    val s = after.expressions.map(_.toString).mkString
    assert(s.contains("vec_dot"))
    assert(!s.contains("zip_with"))
    // a non-dot fold (squared error) must NOT be rewritten
    val other = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .select(aggregate(
        zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v).as("e"))
    val s2 = FuseVecDotRule(other.queryExecution.analyzed)
      .expressions.map(_.toString).mkString
    assert(!s2.contains("vec_dot"))
    // and the rewritten plan computes the composed value
    GraftFunctions.register(spark)
    assert(df.collect()(0).getDouble(0) === 11.0)
  }

  test("VecDot generated code actually COMPILES (no interpreted fallback)") {
    GraftFunctions.register(spark)
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = spark.sql(
        """SELECT vec_dot(array(CAST(id AS DOUBLE), 2.0),
          |               array(3.0, CAST(id AS DOUBLE))) AS d
          |FROM range(100)""".stripMargin)
        .agg(min(col("d"))).collect()(0)
      assert(r.getDouble(0) === 0.0) // id=0: 0*3 + 2*0
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("Hash60 expression == composed conv(substring(md5)) form") {
    val spark0 = spark
    import spark0.implicits._
    GraftFunctions.register(spark)
    val df = Seq("", "a", "alpha beta", "äöü ☃", "0123456789abcdef").toDF("t")
    val rows = df.select(
      call_function("hash60", col("t")).as("fast"),
      graft.text.TextFns.hash60(col("t")).as("composed")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    assert(rows.map(_.getLong(0)).forall(_ >= 0L))
  }

  test("Hash60 survives codegen and null input") {
    GraftFunctions.register(spark)
    val df = spark.sql(
      "SELECT hash60(CAST(NULL AS STRING)) AS n, hash60('x') AS v")
    val r = df.collect()(0)
    assert(r.isNullAt(0))
    assert(r.getLong(1) >= 0L)
  }

  test("FuseHash60Rule rewrites the composed idiom to the native expression") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq("alpha", "beta").toDF("t")
      .select(graft.text.TextFns.hash60(col("t")).as("h"))
    val before = df.queryExecution.analyzed
    val after = FuseHash60Rule(before)
    assert(after.expressions.map(_.toString).mkString.contains("hash60"))
    assert(!after.expressions.map(_.toString).mkString.contains("conv("))
    // and the fused form computes the same values as the composed one
    val composed = df.collect().map(_.getLong(0)).toSeq
    GraftFunctions.register(spark)
    val native = Seq("alpha", "beta").toDF("t")
      .select(call_function("hash60", col("t")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(composed === native)
  }

  test("Hash60 generated code actually COMPILES (no interpreted fallback)") {
    // With fallback disabled a Janino compile error surfaces instead of
    // silently dropping to interpreted mode — guards the $.MODULE$ call
    // shape in doGenCode (a bare `Hash60.eval` has no static forwarder and
    // fails to compile, costing codegen on every hash60 query).
    GraftFunctions.register(spark)
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = spark.sql("SELECT hash60(CAST(id AS STRING)) AS h FROM range(100)")
        .agg(min(col("h"))).collect()(0)
      assert(r.getLong(0) >= 0L)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("ByteHistogram: bins sum to 1, match a hand count, empty/null handled") {
    val spark0 = spark
    import spark0.implicits._
    GraftFunctions.register(spark)
    val df = Seq(Some("abc XYZ 09"), Some(""), None).toDF("t")
      .select(call_function("byte_histogram", col("t").cast("binary")).as("h"))
    val rows = df.collect()
    // "abc XYZ 09": nibble 6 x3 (abc), nibble 2 x2 (spaces), nibble 5 x3
    // (XYZ), nibble 3 x2 (09) over 10 bytes
    val h0 = rows(0).getSeq[Double](0)
    assert(h0.sum === 1.0)
    assert(h0(6) === 0.3 && h0(2) === 0.2 && h0(5) === 0.3 && h0(3) === 0.2)
    // empty payload -> all-zero histogram (not NaN), null -> null
    assert(rows(1).getSeq[Double](0).forall(_ === 0.0))
    assert(rows(2).isNullAt(0))
  }

  test("ByteHistogram generated code actually COMPILES (no interpreted fallback)") {
    GraftFunctions.register(spark)
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = spark.sql(
        """SELECT byte_histogram(CAST(CAST(id AS STRING) AS BINARY)) AS h
          |FROM range(100)""".stripMargin)
        .select(element_at(col("h"), 4).as("b3")) // digits live in nibble 3
        .agg(min(col("b3"))).collect()(0)
      assert(r.getDouble(0) === 1.0)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("DecodePgm: valid P5 parses, every malformation nulls, null propagates") {
    val spark0 = spark
    import spark0.implicits._
    GraftFunctions.register(spark)
    val good = "P5\n3 2\n255\n".getBytes("UTF-8") ++
      Array[Byte](10, 20, 30, 40, 50, 60)
    val trailing = good ++ Array[Byte](99, 99) // extra raster bytes: lenient
    val empty = "P5\n3 0\n255\n".getBytes("UTF-8") // h=0 -> zero pixels
    val cases: Seq[Option[Array[Byte]]] = Seq(
      Some(good), Some(trailing), Some(empty),
      Some("P6\n3 2\n255\nabcdef".getBytes), // wrong magic
      Some("P5\n3 2\n255\nabcd".getBytes), // truncated raster (4 < 6)
      Some("P5\n3 2\n999\nabcdef".getBytes), // maxval out of byte range
      Some("P5\n3 x\n255\nabcdef".getBytes), // non-numeric height
      Some(Array[Byte]()), // empty payload
      None) // null payload
    val rows = cases.toDF("p")
      .select(call_function("decode_pgm", col("p")).as("img"))
      .select(col("img.width"), col("img.height"), col("img.maxval"),
        col("img.pixels"))
      .collect()
    Seq(0, 1).foreach { i =>
      assert(rows(i).getInt(0) === 3 && rows(i).getInt(1) === 2 &&
        rows(i).getInt(2) === 255)
      assert(rows(i).getSeq[Int](3) === Seq(10, 20, 30, 40, 50, 60))
    }
    assert(rows(2).getInt(1) === 0 && rows(2).getSeq[Int](3).isEmpty)
    (3 until cases.length).foreach { i =>
      assert(rows(i).isNullAt(0), s"case $i should decode to null")
    }
  }

  test("rowDiffs: row-boundary pairs excluded, values exact on a known grid") {
    val spark0 = spark
    import spark0.implicits._
    GraftFunctions.register(spark)
    // 3x2 grid: rows (10, 60, 30) and (40, 50, 200). Valid diffs are
    // within-row only: |60-10|, |30-60|, |50-40|, |200-50| — the 30->40
    // row-straddling pair must be excluded, and 200 proves the decoder's
    // unsigned-byte mask reaches the gradient math
    val pgm = "P5\n3 2\n255\n".getBytes("UTF-8") ++
      Array[Byte](10, 60, 30, 40, 50, 200.toByte)
    val out = Seq(pgm).toDF("pgm")
      .select(call_function("decode_pgm", col("pgm")).as("img"))
      .select(graft.multimodal.MultimodalQueries
        .rowDiffs(col("img.pixels"), col("img.width")).as("d"))
      .collect().head.getSeq[Int](0)
    assert(out === Seq(50, 30, 10, 150))
  }

  test("DecodePgm generated code actually COMPILES (no interpreted fallback)") {
    GraftFunctions.register(spark)
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // header + raster built in SQL so the whole decode runs inside one
      // codegen'd project over range(); pixel 'a'+i%26 -> mean recoverable
      val r = spark.sql(
        """SELECT decode_pgm(CAST('P5' || chr(10) || '4 1' || chr(10) || '255'
          |  || chr(10) || 'abcd' AS BINARY)) AS img
          |FROM range(10)""".stripMargin)
        .select(col("img.width").as("w"),
          element_at(col("img.pixels"), 1).as("p0"))
        .agg(min(col("w")), min(col("p0"))).collect()(0)
      assert(r.getInt(0) === 4)
      assert(r.getInt(1) === 'a'.toInt)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("bloom_filter_agg / might_contain arities: defaults accepted, wrong arity is an analysis error") {
    GraftFunctions.register(spark)
    // 1- and 2-arg forms fall back to Spark's own defaults; 3-arg is the
    // explicit form used by urgent_revenue_bloom
    Seq(
      "bloom_filter_agg(CAST(id AS STRING))",
      "bloom_filter_agg(CAST(id AS STRING), CAST(100 AS BIGINT))",
      "bloom_filter_agg(CAST(id AS STRING), CAST(100 AS BIGINT), CAST(8192 AS BIGINT))")
      .foreach { call =>
        val bf = spark.sql(s"SELECT $call AS bf FROM range(10)")
        assert(bf.collect()(0).getAs[Array[Byte]](0).nonEmpty)
      }
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT bloom_filter_agg() FROM range(10)").collect()
    }
    assert(e.getMessage.contains("bloom_filter_agg"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT might_contain(CAST(NULL AS BINARY)) AS m").collect()
    }
    assert(e2.getMessage.contains("might_contain"))
  }

  test("CmsEstimate probes the count_min_sketch aggregate: exact on a small stream") {
    val spark0 = spark
    import spark0.implicits._
    graft.functions.GraftFunctions.register(spark)
    // known multiplicities; a sketch this wide (eps 0.001) holds them exactly
    val toks = (Seq.fill(5)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma"))
      .toDF("token")
    val sk = toks.agg(expr("count_min_sketch(token, 0.001d, 0.99d, 42)").as("sk"))
    val probed = Seq("alpha", "beta", "gamma", "absent").toDF("t")
      .crossJoin(sk)
      .select(col("t"), call_function("cms_estimate", col("sk"), col("t")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(probed("alpha") === 5L)
    assert(probed("beta") === 3L)
    assert(probed("gamma") === 1L)
    // CMS never undercounts; an absent item may only collide upward
    assert(probed("absent") >= 0L)
  }

  test("QuantizedSum aggregator matches Det.sumQ column form") {
    val spark0 = spark
    import spark0.implicits._
    val data = Seq(1.23456, 2.5, 1e9 + 0.00005, 0.0, 3.99995)
    val ds = data.toDS()
    val typed = ds.select(new QuantizedSum(4).toColumn).collect()(0)
    val untyped = ds.toDF("v")
      .agg(Det.sumQ(col("v")).as("s")).collect()(0).getDouble(0)
    assert(typed === untyped)
  }

  test("SimhashAgg == composed 60-column weighted-vote plan, bit-exact") {
    val spark0 = spark
    import spark0.implicits._
    GraftFunctions.register(spark)
    import graft.text.TextFns.SimhashBits
    // enough repeated tokens across groups that per-occurrence ±1 votes
    // only match frequency-weighted votes if the algebra actually holds,
    // and forced to 3 partitions so partial buffers merge across tasks
    val docs = Seq(
      (1L, Seq("the", "quick", "brown", "fox", "the", "the")),
      (2L, Seq("quick", "quick", "lazy", "dog")),
      (3L, Seq("lorem")),
      (4L, Seq("the", "quick", "brown", "fox", "jumps", "over", "the", "lazy", "dog")))
      .toDF("doc_id", "toks").repartition(3)
    val fast = graft.text.TextQueries.simhashFromTokens(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the pre-native plan shape: (doc, token) count, then 60 conditional sums
    val toks = docs
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", call_function("hash60", col("token")))
    val sums = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L,
        col("cnt")).otherwise(-col("cnt"))).as(s"s$b")
    }
    val fp = (0 until SimhashBits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val composed = toks.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === composed)
    // fingerprints stay in the 60-bit range
    fast.values.foreach(v => assert(v >= 0L && v < (1L << SimhashBits)))
  }

  test("MgSummaryAgg: planted skew with universe >> k — guarantees hold under evictions and any merge tree") {
    val spark0 = spark
    import spark0.implicits._
    GraftFunctions.register(spark)
    val k = 8
    // 2000 arrivals: 'hot' 500x (25%), 'warm' 300x (15%), 1200 singleton
    // cold tokens — universe 1202 >> 8 slots, so the decrement path and
    // the Agarwal merge both genuinely fire
    val items = Seq.fill(500)("hot") ++ Seq.fill(300)("warm") ++
      (1 to 1200).map(i => s"cold$i")
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = items.size.toLong
    for (parts <- Seq(1, 7)) {
      val df = items.toDF("token").repartition(parts)
      val r = df.agg(expr(s"mg_summary(token, $k)").as("sk"))
        .select(col("sk.n"), col("sk.err"), col("sk.items")).collect().head
      assert(r.getLong(0) === n, s"parts=$parts n")
      val err = r.getLong(1)
      assert(err > 0L, s"parts=$parts expected real evictions")
      assert(err * (k + 1) <= n, s"parts=$parts err bound")
      val slots = r.getSeq[org.apache.spark.sql.Row](2)
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(slots.size <= k, s"parts=$parts slot budget")
      // every guaranteed-heavy token (f > n/(k+1)) holds a slot
      exact.filter { case (_, f) => f * (k + 1) > n }.keys.foreach { t =>
        assert(slots.contains(t), s"parts=$parts lost guaranteed $t")
      }
      // every counter sits inside its band [f - err, f]
      slots.foreach { case (t, c) =>
        val f = exact(t)
        assert(c <= f && c >= f - err, s"parts=$parts band of $t: $c vs $f")
      }
    }
    // the registry readout over a docs-shaped frame: guaranteed set with
    // exact counts and all-true attestations
    val docs = items.grouped(40).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val out = graft.text.TextQueries.heavyHittersFrame(docs).collect()
    // with k=32 in the registry frame, guaranteed = f*33 > 2000: hot, warm
    assert(out.map(_.getAs[String]("token")).toSeq === Seq("hot", "warm"))
    assert(out.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L))
    assert(out.find(_.getAs[String]("token") == "hot").get
      .getAs[Long]("exact_cnt") === 500L)
    out.foreach { r =>
      assert(r.getAs[Long]("n_total") === n)
      assert(r.getAs[Boolean]("est_le_exact"))
      assert(r.getAs[Boolean]("est_within_err"))
      assert(r.getAs[Boolean]("err_within_bound"))
    }
  }

  test("mg_summary: non-literal / NULL k is a typed analysis error, not a crash") {
    val spark0 = spark
    import spark0.implicits._
    GraftFunctions.register(spark)
    val df = Seq("a", "b", "a").toDF("token")
    // column reference as k: must be the NON_FOLDABLE_INPUT analysis
    // error, not an unbound-attribute eval crash
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      df.withColumn("k", lit(4))
        .agg(expr("mg_summary(token, k)")).collect()
    }
    assert(e1.getCondition === "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
      e1.getMessage)
    // NULL literal k: typed UNEXPECTED_NULL, not an NPE
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(expr("mg_summary(token, CAST(NULL AS INT))")).collect()
    }
    assert(e2.getCondition === "DATATYPE_MISMATCH.UNEXPECTED_NULL",
      e2.getMessage)
    // the happy path is untouched
    val ok = df.agg(expr("mg_summary(token, 4)").as("sk"))
      .select(col("sk.n")).collect().head.getLong(0)
    assert(ok === 3L)
  }
}
