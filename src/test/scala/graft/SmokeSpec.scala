package graft

import org.apache.spark.sql.functions.col

/** End-to-end smoke over the real sf0.001 corpus: the flagship entry and
  * every registry query must build a plan and execute; oracle keys must be
  * a subset of query names (the driver joins them by name).
  */
class SmokeSpec extends SparkSpec {

  test("flagship entry returns rows (t1 gate)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry names are unique and oracle keys match query keys") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.length === names.length)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every registry query executes on sf0.001") {
    SparkEntry.registry.foreach { q =>
      val n = q.frame(spark, sf).count()
      withClue(q.name) { assert(n >= 0) }
    }
  }

  test("no registry query plans a CartesianProduct (registry-wide anti-pattern gate)") {
    // PlanSpec pins individual shapes; this is the mechanical sweep — a
    // cartesian anywhere is corpus² at scale. The model-frame crossJoins
    // throughout the codebase are against broadcast 1-row/k-row frames
    // and plan as BroadcastNestedLoopJoin, never CartesianProduct, so no
    // allowlist is needed; a query that genuinely needs one must hint
    // its build side instead.
    val offenders = SparkEntry.registry.flatMap { q =>
      val plan = q.frame(spark, sf).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(q.name) else None
    }
    assert(offenders.isEmpty, s"cartesian plans: $offenders")
  }

  /** Lines of `src/main/scala` outside the `owners` that contain a
    * `banned` string — the single-owner guards below. */
  private def outsideOwner(owners: Seq[String], banned: Seq[String]): List[String] = {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !owners.exists(o => p.endsWith(o)))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
  }

  test("parallel sub-jobs have one owner: no global-pool Future/Await outside graft.api.Par") {
    // a global-EC Future keeps the job group of whichever query grew the
    // pool and an Await.result(_, Duration.Inf) leaves sibling jobs
    // running when one branch fails — graft.api.Par.all owns that policy
    val offenders = outsideOwner(Seq("graft/api/Par.scala"),
      Seq("ExecutionContext.Implicits.global", "Await.result", "Duration.Inf"))
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("table publishing has one owner: no catalog write or commit-version edit outside graft.sources.Warehouse") {
    // every publish goes through Warehouse's commit step, which guards
    // and advances graft.commit.version; a write that bypasses it leaves
    // the clock behind and lets a stale guarded merge land over it
    val offenders = outsideOwner(Seq("graft/sources/Warehouse.scala"),
      Seq("saveAsTable", "insertInto(", "dropPartitions", "graft.commit.version"))
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("session setup has one owner: function registration at the registry boundary, parquet reads in graft.Tables") {
    // a registry frame registers the native functions and Tables resolves
    // each corpus schema once; a register call or a bare parquet read
    // elsewhere repeats that setup on every frame
    val offenders =
      outsideOwner(Seq("graft/api/GraftQuery.scala", "graft/GraftCatalog.scala"),
        Seq("GraftFunctions.register(")) ++
        outsideOwner(Seq("graft/Tables.scala"), Seq("read.parquet("))
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("every oracle has a deterministic total order (or is a 1-row aggregate)") {
    // hash-comparison is order-sensitive: any multi-row oracle without an
    // ORDER BY is a latent flake. 1-row aggregates self-declare via
    // GraftQuery.oneRow — derived from the registry, never an allowlist
    // that can drift when the next aggregate-only query lands.
    val singleRow = SparkEntry.registry.filter(_.singleRow).map(_.name).toSet
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      if (!singleRow(name)) {
        withClue(name) { assert(sql.toUpperCase.contains("ORDER BY")) }
      }
    }
  }

  test("no oracle interpolated an uninitialized constant") {
    // a Scala object-init cycle renders a not-yet-initialized Int val as
    // 0 inside eagerly-built oracle SQL (shipped once as `doc_id % 0`) —
    // zero is never a legitimate modulus/divisor/threshold literal here
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      withClue(name) {
        assert(!sql.matches("(?s).*%\\s+0\\b[^.].*"),
          "oracle contains a `% 0` — uninitialized constant interpolation?")
      }
    }
  }

  test("every singleRow-flagged query really is one row on sf0.001") {
    // the flag buys an ORDER-BY exemption; prove it can't lie
    SparkEntry.registry.filter(_.singleRow).foreach { q =>
      withClue(q.name) { assert(q.frame(spark, sf).count() === 1L) }
    }
  }

  test("ANN LSH recall vs brute force on the fixed corpus") {
    def pairs(q: api.GraftQuery): Set[(Long, Long)] =
      q.frame(spark, sf).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val exact = pairs(sim.SimQueries.bruteforce)
    val lsh = pairs(sim.SimQueries.lshTopk)
    // the LSH bucket holds ~1/16 of vectors; every LSH hit must be a
    // same-bucket vector, and on this fixed corpus the top-10 overlap is
    // deterministic — assert the sanity floor, not a tuned number
    assert(lsh.nonEmpty)
    assert((lsh -- exact).size < lsh.size, "LSH found nothing from the exact top-10")
  }

  test("registry integrity: every query carries a real oracle, whatever initialized first") {
    // Touch the dedup side BEFORE reading the registry — the order that
    // once nulled four text oracles through the TextQueries <-> TextOracle
    // object-initialization cycle (oracles are defs now; this is the pin).
    dedup.DedupQueries.all
    val reg = SparkEntry.registry
    // Derived, not pinned: two stale-count incidents (README, this spec)
    // showed a hard-coded size rots every time a query lands. The registry
    // IS the single source of truth; what matters structurally is that no
    // entry is lost between registry -> queries -> oracleSql.
    assert(reg.size === SparkEntry.queries.size)
    reg.foreach { q =>
      assert(q.oracle.exists(s => s != null && s.trim.nonEmpty),
        s"${q.name} lost its oracle")
    }
    assert(SparkEntry.oracleSql.size === reg.size)
  }

  test("rfm: segments partition all customers; hhi within [1/n, 1]") {
    val rfm = SparkEntry.queries("customer_rfm_segments")(spark, sf).collect()
    val nCust = graft.Tables.orders(spark, sf)
      .select("o_custkey").distinct().count()
    assert(rfm.map(_.getAs[Long]("n_customers")).sum === nCust,
      "RFM segments do not partition the customer base")
    assert(math.abs(rfm.map(_.getAs[Double]("customer_share")).sum - 1.0)
      < 1e-9)
    val hhi = SparkEntry.queries("portfolio_concentration_hhi")(spark, sf)
      .collect()
    hhi.foreach { r =>
      val (n, h) = (r.getAs[Long]("n_groups"), r.getAs[Double]("hhi"))
      assert(h >= 1.0 / n - 1e-9 && h <= 1.0 + 1e-9,
        s"HHI $h outside [1/$n, 1]")
      assert(r.getAs[Double]("top_share") * r.getAs[Double]("top_share")
        <= h + 1e-9, "top share inconsistent with HHI")
    }
  }

  test("loan_final quirk pins: en-dash labels and credited-per-month") {
    val lf = loan.LoanDomain.loanFinalFrame(spark, sf)
    val buckets = lf.select("dpd_bucket").distinct()
      .collect().map(_.getString(0)).toSet
    assert(buckets.subsetOf(Set(
      "Current", "1–30 DPD", "31–60 DPD", "61–90 DPD", "90+ DPD")))
    // every non-null region cleaned into the 4-city dictionary
    assert(lf.filter(col("region").isNotNull &&
      !col("region_cleaned").isin(loan.LoanDomain.ValidCities: _*)).count() === 0)
  }
}
