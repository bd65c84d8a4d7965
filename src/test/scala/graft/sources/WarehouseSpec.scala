package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.loan.LoanDomain

/** Replace-mode load semantics (S3-S6): second load overwrites, the loaded
  * tables hold exactly the registry frames' rows, schema listed in the
  * catalog.
  */
class WarehouseSpec extends SparkSpec {

  /** Physical plans of every query execution `body` runs, adaptive plans
    * at their final stage and commands with their write query.
    */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; org.apache.spark.GraftBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case c: CommandResultExec => Seq(c.commandPhysicalPlan)
        case _ => Nil
      }
      p +: (inner ++ p.children).flatMap(nodes)
    }
    seen.asScala.toSeq.flatMap(nodes)
  }

  /** Row count and two xxhash64 sums: equal for equal multisets of rows. */
  private def digest(df: DataFrame): Row = {
    import org.apache.spark.sql.functions.{col, count, lit, shiftrightunsigned, sum, xxhash64}
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    df.select(h.as("h")).agg(count(lit(1)),
      sum(col("h").bitwiseAND(lit(0xffffffffL))),
      sum(shiftrightunsigned(col("h"), 32))).head()
  }

  private def loaded(t: String) = spark.table(s"${Warehouse.Schema}.$t")

  test("loadAll: replace-mode managed tables round-trip") {
    Warehouse.loadAll(spark, sf)
    val plans = executedPlans(Warehouse.loadAll(spark, sf)) // replace, not append
    val lf = loaded("loan_final")
    val sched = loaded("loan_monthly_schedule")
    // both tables hold exactly the registry frames' rows, as multisets
    Seq(lf -> LoanDomain.loanFinalFrame(spark, sf),
        sched -> LoanDomain.monthlyScheduleFrame(spark, sf)).foreach {
      case (table, frame) =>
        assert(table.count() === frame.count())
        assert(table.exceptAll(frame).isEmpty)
        assert(frame.exceptAll(table).isEmpty)
    }
    // the extract is spread: one schedule file per shuffle partition
    assert(sched.inputFiles.length >=
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // one pass: both writes ran, neither with a window or a global sort
    assert(plans.count(_.isInstanceOf[DataWritingCommandExec]) >= 2,
      plans.map(_.nodeName).distinct.mkString(", "))
    val offending = plans.collect {
      case w: WindowExec => w
      case s: SortExec if s.global => s
    }
    assert(offending.isEmpty, offending.mkString("\n"))
    assert(spark.catalog.databaseExists(Warehouse.Schema))
    assert(Warehouse.currentDatabase(spark).nonEmpty)
  }

  test("loadAll: the loaded tables do not depend on the partition count or AQE") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val prior = keys.map(k => k -> spark.conf.get(k))
    val digests = try {
      for (parts <- Seq(1, 4, 17); aqe <- Seq(true, false)) yield {
        spark.conf.set(keys(0), parts.toLong)
        spark.conf.set(keys(1), aqe)
        Warehouse.loadAll(spark, sf)
        assert(loaded("loan_monthly_schedule").inputFiles.length >= parts)
        s"$parts/$aqe" ->
          Seq("loan_final", "loan_monthly_schedule").map(t => digest(loaded(t)))
      }
    } finally prior.foreach { case (k, v) => spark.conf.set(k, v) }
    assert(digests.map(_._2).distinct.size === 1, digests.mkString("\n"))
  }

  test("snapshotTable: versions survive replace-mode overwrites (time travel)") {
    import org.apache.spark.sql.functions._
    val gen1 = graft.Tables.region(spark, sf).withColumn("gen", lit(1))
    val gen2 = graft.Tables.nation(spark, sf).select(
      col("n_nationkey").as("r_regionkey"), col("n_name").as("r_name"))
      .withColumn("gen", lit(2))
    Warehouse.replaceTable(gen1, "tt_demo")
    val v1 = Warehouse.snapshotTable(spark, "tt_demo")
    Warehouse.replaceTable(gen2, "tt_demo") // today's publish destroys...
    val v2 = Warehouse.snapshotTable(spark, "tt_demo")
    assert(v1 === 1 && v2 === 2)
    assert(Warehouse.snapshots(spark, "tt_demo") === Seq(1, 2))
    // ...but the snapshot still serves yesterday's load, byte-for-byte
    val snap1 = Warehouse.readSnapshot(spark, "tt_demo", v1)
      .orderBy("r_regionkey").collect().map(_.toSeq).toSeq
    assert(snap1 === gen1.orderBy("r_regionkey").collect().map(_.toSeq).toSeq)
    assert(Warehouse.readSnapshot(spark, "tt_demo", v2).count() === gen2.count())
    // the live table is the latest publish
    assert(spark.table(s"${Warehouse.Schema}.tt_demo")
      .agg(max(col("gen"))).head.getInt(0) === 2)
    // and snapshot tables never shadow the base in snapshots() parsing
    assert(!Warehouse.snapshots(spark, "tt_demo").contains(0))
  }

  test("compact: rewrites a fragmented table to the target file count") {
    val lf = graft.loan.LoanDomain.loanFinalUnordered(spark, sf).repartition(16)
    Warehouse.replaceTable(lf, "loan_final_frag")
    val before = spark.table(s"${Warehouse.Schema}.loan_final_frag")
    val rowsBefore = before.count()
    Warehouse.compact(spark, "loan_final_frag", 2)
    val after = spark.table(s"${Warehouse.Schema}.loan_final_frag")
    assert(after.count() === rowsBefore)
    assert(after.inputFiles.length <= 2)
  }

  test("compactPartition: appends fragment one partition; compaction heals ONLY it") {
    import org.apache.spark.sql.functions.col
    val spark0 = spark
    import spark0.implicits._
    val base = (1L to 40L).map(i => (i, s"v$i", (i % 4).toInt))
      .toDF("id", "payload", "cell")
    Warehouse.replacePartitioned(base, "codes_frag", "cell")
    // three incremental batches land in cell 2 only -> its file count grows
    (1 to 3).foreach { b =>
      Warehouse.appendTable(
        Seq((100L + b, s"w$b", 2)).toDF("id", "payload", "cell"),
        "codes_frag", Some("cell"))
    }
    val t = s"${Warehouse.Schema}.codes_frag"
    def filesOf(cell: Int) = spark.table(t)
      .filter(col("cell") === cell).inputFiles.sorted.toSeq
    val hotBefore = filesOf(2)
    val coldBefore = filesOf(1)
    assert(hotBefore.size > coldBefore.size, "appends did not fragment")
    val rowsBefore = spark.table(t).filter(col("cell") === 2)
      .collect().map(_.toSeq).toSet
    Warehouse.compactPartition(spark, "codes_frag", "cell", 2)
    assert(filesOf(2).size === 1, "hot partition not compacted to 1 file")
    // untouched partitions keep their exact files; content identical
    assert(filesOf(1) === coldBefore, "sibling partition was rewritten")
    assert(spark.table(t).filter(col("cell") === 2)
      .collect().map(_.toSeq).toSet === rowsBefore)
    assert(spark.table(t).count() === 43)
  }

  test("ANALYZE TABLE feeds row-count stats to the optimizer (CBO input)") {
    Warehouse.loadAll(spark, sf)
    spark.sql(s"ANALYZE TABLE ${Warehouse.Schema}.loan_final COMPUTE STATISTICS")
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", true)
      val stats = spark.table(s"${Warehouse.Schema}.loan_final")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.isDefined)
      assert(stats.rowCount.get.toLong ===
        graft.loan.LoanDomain.loanFinalFrame(spark, sf).count())
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("column stats + CBO: filter selectivity flips the join build side to broadcast") {
    import org.apache.spark.sql.functions.col
    Warehouse.loadAll(spark, sf)
    val t = s"${Warehouse.Schema}.loan_final"
    // probe = the raw fact table: far above any threshold below, so the
    // ONLY broadcastable side is the dim
    val probe = graft.Tables.lineitem(spark, sf)
    def joinPlan(dim: org.apache.spark.sql.DataFrame): String = dim
      .join(probe, col("loan_id") === col("l_orderkey"))
      .queryExecution.executedPlan.toString
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.cbo.enabled", true)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS " +
        "region_cleaned, loan_id")
      // rowCount x rowSize units throughout (CBO estimates are
      // decompressed — never compare them against parquet file bytes)
      val rawEst = spark.table(t).queryExecution.optimizedPlan
        .stats.sizeInBytes.toLong
      val filtered = spark.table(t)
        .filter(col("region_cleaned") === "Mumbai")
      val filteredEst = filtered.queryExecution.optimizedPlan
        .stats.sizeInBytes.toLong
      // NDV-driven equality selectivity: 1 of ~4 cleaned regions
      assert(filteredEst * 2 < rawEst,
        s"column stats did not apply selectivity: $rawEst -> $filteredEst")
      // threshold between the two estimates: the flip is the stats' doing.
      // The dim is the LEFT side, so the pin is on BuildLeft — the probe
      // side's own (file-size-based) estimate is irrelevant to it
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((filteredEst + rawEst) / 2).toString)
      assert(!joinPlan(spark.table(t)).contains("BuildLeft"),
        s"unfiltered dim built under the threshold (raw=$rawEst):\n${joinPlan(spark.table(t))}")
      assert(joinPlan(filtered).contains("BuildLeft"),
        s"selectivity did not flip the build side ($rawEst -> $filteredEst):\n${joinPlan(filtered)}")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    }
  }

  test("partitioned load: filter on partition column prunes the scan") {
    val lf = graft.loan.LoanDomain.loanFinalUnordered(spark, sf)
    Warehouse.replacePartitioned(lf, "loan_final_by_region", "region_cleaned")
    val t = spark.table(s"${Warehouse.Schema}.loan_final_by_region")
    val filtered = t.filter(org.apache.spark.sql.functions.col("region_cleaned") === "Mumbai")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || !plan.contains("region_cleaned IS NOT NULL"))
    assert(filtered.count() > 0)
  }

  test("IVF layout: embeddings partitioned by trained cell prune to one partition") {
    import org.apache.spark.sql.functions.col
    val cells = graft.sim.SimQueries.kmeansCells(spark, sf)
    val emb = graft.Tables.embeddings(spark, sf).join(cells, "vec_id")
    Warehouse.replacePartitioned(emb, "embeddings_ivf", "cell")
    val c0 = cells.agg(org.apache.spark.sql.functions.min("cell"))
      .collect()(0).getInt(0)
    val probe = spark.table(s"${Warehouse.Schema}.embeddings_ivf")
      .filter(col("cell") === c0)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(probe.count() > 0)
  }

  // mergeTable = the SQL MERGE contract on managed tables: matched keys
  // update, unmatched insert, duplicate delta keys rejected, idempotent on
  // replay — and the PARTITION-PRUNED path rewrites only touched
  // partitions. Each merged state is checked against a plain-Scala
  // recompute of the upsert (merge-vs-recompute, the
  // portfolio_incremental_merge discipline).
  test("mergeTable: upsert equals recompute; dup keys rejected; idempotent") {
    import spark.implicits._
    // sorted Seq, not Set: the idempotency pin must see row MULTIPLICITY
    // (an append-instead-of-upsert regression duplicates rows, which a
    // Set comparison would collapse and miss)
    def table = spark.table(s"${Warehouse.Schema}.merge_plain")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    val v1 = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "tag", "x")
    Warehouse.replaceTable(v1, "merge_plain")
    val delta = Seq((2L, "B", 20.0), (4L, "d", 4.0)).toDF("id", "tag", "x")
    Warehouse.mergeTable(delta, "merge_plain", Seq("id"))
    val expected = Seq((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0),
      (4L, "d", 4.0))
    assert(table === expected)
    // idempotent: re-merging the same delta changes nothing
    Warehouse.mergeTable(delta, "merge_plain", Seq("id"))
    assert(table === expected)
    // MERGE rejects multiple WHEN MATCHED candidates for one key
    val dup = Seq((5L, "x", 1.0), (5L, "y", 2.0)).toDF("id", "tag", "x")
    intercept[IllegalArgumentException] {
      Warehouse.mergeTable(dup, "merge_plain", Seq("id"))
    }
    assert(table === expected) // the failed merge wrote nothing
    // first merge on a missing table creates it
    Warehouse.mergeTable(v1, "merge_created", Seq("id"))
    assert(spark.table(s"${Warehouse.Schema}.merge_created").count() === 3)
  }

  test("mergeTable partitioned: only touched partitions rewritten") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val v1 = Seq((1L, "p1", 1.0), (2L, "p1", 2.0), (3L, "p2", 3.0),
      (4L, "p3", 4.0)).toDF("id", "part", "x")
    Warehouse.replacePartitioned(v1, "merge_part", "part")
    val qualified = s"${Warehouse.Schema}.merge_part"
    // file identity of the UNTOUCHED partition before the merge
    def filesOf(p: String): Set[String] =
      spark.table(qualified).filter(col("part") === p)
        .select(org.apache.spark.sql.functions
          .input_file_name().as("f")).as[String].collect().toSet
    val p3Before = filesOf("p3")
    // the partition column rides the key, so the merge may prune
    val delta = Seq((2L, "p1", 20.0), (5L, "p2", 5.0)).toDF("id", "part", "x")
    Warehouse.mergeTable(delta, "merge_part", Seq("id", "part"))
    val got = spark.table(qualified).select(col("id"), col("part"), col("x"))
      .as[(Long, String, Double)].collect().toSet
    assert(got === Set((1L, "p1", 1.0), (2L, "p1", 20.0), (3L, "p2", 3.0),
      (5L, "p2", 5.0), (4L, "p3", 4.0)))
    // p3 was not touched by the delta: its files are byte-identical
    assert(filesOf("p3") === p3Before)
    // p1 WAS touched: its files were rewritten
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "merge_part", Some(Warehouse.Schema)))
      .partitionColumnNames === Seq("part"))
  }

  // the DELETE side of a CDC apply: explicit key rows removed, absent
  // delete keys are replay no-ops, a key in both delta and deletes is
  // rejected — each state checked against the plain recompute
  test("mergeTable deletes: CDC apply removes keys; replay no-op; overlap rejected") {
    import spark.implicits._
    def table = spark.table(s"${Warehouse.Schema}.merge_del")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    val v1 = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (4L, "d", 4.0)).toDF("id", "tag", "x")
    Warehouse.replaceTable(v1, "merge_del")
    // one update, one insert, one delete, one delete of an ABSENT key
    val delta = Seq((2L, "B", 20.0), (5L, "e", 5.0)).toDF("id", "tag", "x")
    val dels = Seq(3L, 99L).toDF("id")
    Warehouse.mergeTable(delta, "merge_del", Seq("id"), Some(dels))
    val expected = Seq((1L, "a", 1.0), (2L, "B", 20.0), (4L, "d", 4.0),
      (5L, "e", 5.0))
    assert(table === expected)
    // replaying the same (delta, deletes) changes nothing
    Warehouse.mergeTable(delta, "merge_del", Seq("id"), Some(dels))
    assert(table === expected)
    // pure retention purge: empty delta (table schema), deletes only
    Warehouse.mergeTable(delta.limit(0), "merge_del", Seq("id"),
      Some(Seq(4L).toDF("id")))
    assert(table === expected.filterNot(_._1 == 4L))
    // a key both upserted and deleted is ambiguous — rejected, no write
    val before = table
    intercept[IllegalArgumentException] {
      Warehouse.mergeTable(delta, "merge_del", Seq("id"),
        Some(Seq(5L).toDF("id")))
    }
    assert(table === before)
  }

  test("mergeTable deletes partitioned: pruned path drops emptied partition, untouched files identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val v1 = Seq((1L, "p1", 1.0), (2L, "p1", 2.0), (3L, "p2", 3.0),
      (4L, "p3", 4.0), (5L, null, 5.0), (6L, null, 6.0))
      .toDF("id", "part", "x")
    Warehouse.replacePartitioned(v1, "merge_delpart", "part")
    val qualified = s"${Warehouse.Schema}.merge_delpart"
    def filesOf(p: String): Set[String] =
      spark.table(qualified).filter(col("part") === p)
        .select(org.apache.spark.sql.functions
          .input_file_name().as("f")).as[String].collect().toSet
    val p3Before = filesOf("p3")
    // delete empties p2 entirely; delta touches p1; a delete in the NULL
    // partition must not disturb its non-matching sibling (the null-safe
    // touched-partition join)
    val delta = Seq((2L, "p1", 20.0)).toDF("id", "part", "x")
    val dels = Seq((3L, "p2"), (5L, null)).toDF("id", "part")
    Warehouse.mergeTable(delta, "merge_delpart", Seq("id", "part"),
      Some(dels))
    val got = spark.table(qualified).select(col("id"), col("part"), col("x"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getDouble(2))).toSet
    assert(got === Set((1L, "p1", 1.0), (2L, "p1", 20.0), (4L, "p3", 4.0),
      (6L, null, 6.0)))
    // p3 untouched: byte-identical files
    assert(filesOf("p3") === p3Before)
    // the emptied p2 is GONE from the catalog (dynamic overwrite alone
    // would have left its stale files on disk)
    val parts = spark.sessionState.catalog.listPartitions(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "merge_delpart", Some(Warehouse.Schema)))
      .map(_.spec("part"))
    assert(!parts.contains("p2"), s"emptied partition survived: $parts")
  }

  test("appendEvolved: widened metadata, NULL backfill on old files, old-schema appends, type changes rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val qualified = s"${Warehouse.Schema}.evolve_demo"
    val a = Seq((1L, "x", 1), (2L, "y", 1)).toDF("id", "payload", "part")
    Warehouse.appendEvolved(a, "evolve_demo", Some("part")) // creates
    val filesA = spark.table(qualified).inputFiles.toSet
    // the producer gains a column mid-stream: metadata widens, slice A's
    // files are NOT rewritten (the O(1)-evolution contract)
    val b = Seq((3L, "z", 2.5, 2)).toDF("id", "payload", "score", "part")
    Warehouse.appendEvolved(b, "evolve_demo", Some("part"))
    assert(filesA.subsetOf(spark.table(qualified).inputFiles.toSet),
      "evolution rewrote pre-existing files")
    // NULL backfill byte-check: old rows read score as NULL, new carries it
    val got = spark.table(qualified).select("id", "payload", "score")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(got === Set((1L, "x", null), (2L, "y", null), (3L, "z", 2.5)))
    // an old-schema producer keeps publishing after the evolution
    val c = Seq((4L, "w", 1)).toDF("id", "payload", "part")
    Warehouse.appendEvolved(c, "evolve_demo", Some("part"))
    assert(spark.table(qualified).filter(col("id") === 4)
      .select("score").head.isNullAt(0))
    // type CHANGE rejected (payload string -> int), nothing written
    val before = spark.table(qualified).count()
    intercept[IllegalArgumentException] {
      Warehouse.appendEvolved(
        Seq((5L, 9, 1)).toDF("id", "payload", "part"),
        "evolve_demo", Some("part"))
    }
    // narrowing the EVOLVED column rejected too (score double -> int)
    intercept[IllegalArgumentException] {
      Warehouse.appendEvolved(
        Seq((6L, "q", 7, 1)).toDF("id", "payload", "score", "part"),
        "evolve_demo", Some("part"))
    }
    assert(spark.table(qualified).count() === before)
  }

  test("mergeTable evolve: a CDC delta gaining a column widens the serving table mid-stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val v1 = Seq((1L, 0, "a"), (2L, 0, "b"), (3L, 1, "c"))
      .toDF("id", "bucket", "state")
    Warehouse.replacePartitioned(v1, "merge_evolve", "bucket")
    val qualified = s"${Warehouse.Schema}.merge_evolve"
    def filesOf(b: Int): Set[String] =
      spark.table(qualified).filter(col("bucket") === b)
        .select(org.apache.spark.sql.functions
          .input_file_name().as("f")).as[String].collect().toSet
    val b1Before = filesOf(1)
    // the feed gains `score` mid-stream; bucket rides the key so the
    // widened merge still takes the partition-pruned path
    val delta = Seq((2L, 0, "B", 7.5)).toDF("id", "bucket", "state", "score")
    Warehouse.mergeTable(delta, "merge_evolve", Seq("id", "bucket"),
      evolve = true)
    val got = spark.table(qualified).select("id", "state", "score")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(got === Set((1L, "a", null), (2L, "B", 7.5), (3L, "c", null)))
    // the untouched bucket's PRE-EVOLUTION files are byte-identical —
    // the widening was a catalog edit, not a rewrite
    assert(filesOf(1) === b1Before, "evolution rewrote an untouched partition")
    // an old-schema delta keeps merging after the evolution (NULL fill)
    Warehouse.mergeTable(Seq((3L, 1, "C")).toDF("id", "bucket", "state"),
      "merge_evolve", Seq("id", "bucket"), evolve = true)
    assert(spark.table(qualified).filter(col("id") === 3)
      .select("state", "score").collect()
      .map(r => (r.getString(0), r.isNullAt(1))).toSeq === Seq(("C", true)))
    // without the flag a schema mismatch stays a hard error
    intercept[Exception] {
      Warehouse.mergeTable(
        Seq((4L, 1, "d", 1.0, "x"))
          .toDF("id", "bucket", "state", "score", "extra"),
        "merge_evolve", Seq("id", "bucket"))
    }
  }

  test("mergeTable deletes: emptied TIMESTAMP-partition spec matches the catalog encoding") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // java.sql.Timestamp.toString renders "…00:00:00.0" while the catalog
    // stores the writer's Cast-to-string "…00:00:00"; with the raw
    // toString spec + ignoreIfNotExists the emptied partition silently
    // survived — the spec must go through the same Cast
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val v1 = Seq((1L, ts("2024-01-01 00:00:00"), 1.0),
      (2L, ts("2024-01-02 00:00:00"), 2.0),
      (3L, ts("2024-01-02 00:00:00"), 3.0)).toDF("id", "day", "x")
    Warehouse.replacePartitioned(v1, "merge_tspart", "day")
    val delta = Seq((2L, ts("2024-01-02 00:00:00"), 20.0))
      .toDF("id", "day", "x")
    val dels = Seq((1L, ts("2024-01-01 00:00:00"))).toDF("id", "day")
    Warehouse.mergeTable(delta, "merge_tspart", Seq("id", "day"), Some(dels))
    val got = spark.table(s"${Warehouse.Schema}.merge_tspart")
      .select(col("id"), col("x")).as[(Long, Double)].collect().toSet
    assert(got === Set((2L, 20.0), (3L, 3.0)))
    val parts = spark.sessionState.catalog.listPartitions(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "merge_tspart", Some(Warehouse.Schema)))
      .map(_.spec("day"))
    assert(parts.forall(_.startsWith("2024-01-02")),
      s"emptied timestamp partition survived: $parts")
  }

  test("bucketed tables join without a shuffle (no Exchange in plan)") {
    import org.apache.spark.sql.functions.col
    val lf = graft.loan.LoanDomain.loanFinalUnordered(spark, sf)
      .select("loan_id", "arrear", "dpd_bucket")
    val ext = graft.loan.LoanDomain.loanExtensions(spark, sf)
    Warehouse.replaceBucketed(lf, "lf_bucketed", "loan_id", 4)
    Warehouse.replaceBucketed(ext, "ext_bucketed", "loan_id", 4)
    // force the sort-merge path (at test scale Catalyst would rightly pick
    // broadcast; at 100 TB neither side is broadcastable and bucketing is
    // what removes the Exchange)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val joined = spark.table(s"${Warehouse.Schema}.lf_bucketed")
        .join(spark.table(s"${Warehouse.Schema}.ext_bucketed"), "loan_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("vacuumSnapshots: retention drops old versions, keeps numbering monotone") {
    import org.apache.spark.sql.functions._
    val base = graft.Tables.region(spark, sf)
    Warehouse.replaceTable(base.withColumn("gen", lit(1)), "vac_demo")
    val v1 = Warehouse.snapshotTable(spark, "vac_demo")
    Warehouse.replaceTable(base.withColumn("gen", lit(2)), "vac_demo")
    val v2 = Warehouse.snapshotTable(spark, "vac_demo")
    Warehouse.replaceTable(base.withColumn("gen", lit(3)), "vac_demo")
    val v3 = Warehouse.snapshotTable(spark, "vac_demo")
    assert(Seq(v1, v2, v3) === Seq(1, 2, 3))

    val dropped = Warehouse.vacuumSnapshots(spark, "vac_demo", keep = 2)
    assert(dropped === Seq(1))
    assert(Warehouse.snapshots(spark, "vac_demo") === Seq(2, 3))
    // the dropped snapshot's table AND files are gone
    assert(!spark.catalog.tableExists(s"${Warehouse.Schema}.vac_demo__v1"))
    // survivors still serve their versions byte-for-byte
    assert(Warehouse.readSnapshot(spark, "vac_demo", 2)
      .agg(max(col("gen"))).head.getInt(0) === 2)
    assert(Warehouse.readSnapshot(spark, "vac_demo", 3)
      .agg(max(col("gen"))).head.getInt(0) === 3)
    // the live table is untouched by retention
    assert(spark.table(s"${Warehouse.Schema}.vac_demo")
      .agg(max(col("gen"))).head.getInt(0) === 3)
    // numbering never recycles a reclaimed id: the next snapshot is 4
    assert(Warehouse.snapshotTable(spark, "vac_demo") === 4)
    // keep wider than history is a no-op; keep < 1 is refused
    assert(Warehouse.vacuumSnapshots(spark, "vac_demo", keep = 10) === Seq.empty)
    intercept[IllegalArgumentException] {
      Warehouse.vacuumSnapshots(spark, "vac_demo", keep = 0)
    }
    assert(Warehouse.snapshots(spark, "vac_demo") === Seq(2, 3, 4))
  }

  test("optimistic concurrency: the lost-update race — a stale merge is refused, the winner's row survives, retry-after-reread lands") {
    import spark.implicits._
    val t = "merge_occ"
    val q = s"${Warehouse.Schema}.$t"
    Warehouse.mergeTable(Seq((1L, "a"), (2L, "b")).toDF("id", "state"),
      t, Seq("id"))
    assert(Warehouse.commitVersion(spark, t) === 1L)
    // writers A and B both read version 1 and prepare upserts of key 2
    val vRead = Warehouse.commitVersion(spark, t)
    // B publishes first: check-and-swap to 2
    Warehouse.mergeTable(Seq((2L, "B")).toDF("id", "state"), t, Seq("id"),
      expectedVersion = Some(vRead))
    assert(Warehouse.commitVersion(spark, t) === vRead + 1)
    // A now holds a stale read: without the guard its overwrite would
    // silently erase B's update (the lost update); the publish is REFUSED
    val ex = intercept[java.util.ConcurrentModificationException] {
      Warehouse.mergeTable(Seq((2L, "A")).toDF("id", "state"), t, Seq("id"),
        expectedVersion = Some(vRead))
    }
    assert(ex.getMessage.contains("commit version"))
    // nothing published: B's row intact, version clock unmoved
    assert(spark.table(q).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
      === Map(1L -> "a", 2L -> "B"))
    assert(Warehouse.commitVersion(spark, t) === vRead + 1)
    // A re-reads and retries — the optimistic protocol's happy path
    Warehouse.mergeTable(Seq((2L, "A")).toDF("id", "state"), t, Seq("id"),
      expectedVersion = Some(Warehouse.commitVersion(spark, t)))
    assert(spark.table(q).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
      === Map(1L -> "a", 2L -> "A"))
    assert(Warehouse.commitVersion(spark, t) === vRead + 2)
    // unguarded callers keep last-writer-wins semantics but still
    // advance the clock for guarded readers
    Warehouse.mergeTable(Seq((3L, "c")).toDF("id", "state"), t, Seq("id"))
    assert(Warehouse.commitVersion(spark, t) === vRead + 3)
    // a guarded create over a DROPPED table: a positive expectation is
    // stale by definition
    spark.sql(s"DROP TABLE $q")
    intercept[java.util.ConcurrentModificationException] {
      Warehouse.mergeTable(Seq((1L, "x")).toDF("id", "state"), t, Seq("id"),
        expectedVersion = Some(vRead + 3))
    }
  }

  test("optimistic concurrency: compactClustered refuses to rewrite over a mid-read ingest; retry moves the rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = "occ_clustered"
    val q = s"${Warehouse.Schema}.$t"
    // row 2 misplaced (cell 1 living in partition 0)
    Warehouse.replacePartitioned(
      Seq((1L, 0L, 0L), (2L, 1L, 0L), (3L, 1L, 1L)).toDF("id", "cell", "p"),
      t, "p")
    val vRead = Warehouse.commitVersion(spark, t) // 1: the create published
    // an ingest batch lands AFTER the optimizer's read: another misplaced
    // row appears and the version advances
    Warehouse.mergeTable(Seq((4L, 1L, 0L)).toDF("id", "cell", "p"),
      t, Seq("id", "p"))
    assert(Warehouse.commitVersion(spark, t) === vRead + 1)
    // the optimizer's stale rewrite is refused BEFORE any file moves
    intercept[java.util.ConcurrentModificationException] {
      Warehouse.compactClustered(spark, t, "p", "cell",
        expectedVersion = Some(vRead))
    }
    assert(spark.table(q).filter(col("p") =!= col("cell")).count() === 2L,
      "refused rewrite must not have moved rows")
    // re-read, retry: both misplaced rows move, the clock advances
    val moved = Warehouse.compactClustered(spark, t, "p", "cell",
      expectedVersion = Some(Warehouse.commitVersion(spark, t)))
    assert(moved === 2L)
    assert(spark.table(q).filter(col("p") =!= col("cell")).count() === 0L)
    assert(Warehouse.commitVersion(spark, t) === vRead + 2)
  }

  // every publish advances the version, not only the guarded ones: a
  // replace-style write recreates the table definition (and with it the
  // property), so without the commit step's bump the clock fell back to
  // 0 and a later merge brought it back to the version a stale writer
  // had read — whose guarded merge then landed over the replace
  test("optimistic concurrency: a replace between read and merge cannot reset the version; the stale merge is refused") {
    import spark.implicits._
    val t = "occ_replace"
    def rows = spark.table(s"${Warehouse.Schema}.$t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    Warehouse.mergeTable(Seq((1L, "a")).toDF("id", "state"), t, Seq("id"))
    val vRead = Warehouse.commitVersion(spark, t) // writer A reads
    Warehouse.replaceTable(Seq((1L, "r"), (2L, "r")).toDF("id", "state"), t)
    assert(Warehouse.commitVersion(spark, t) === vRead + 1)
    Warehouse.mergeTable(Seq((3L, "m")).toDF("id", "state"), t, Seq("id"))
    assert(Warehouse.commitVersion(spark, t) === vRead + 2)
    val before = rows
    assert(before === Map(1L -> "r", 2L -> "r", 3L -> "m"))
    intercept[java.util.ConcurrentModificationException] {
      Warehouse.mergeTable(Seq((1L, "A")).toDF("id", "state"), t, Seq("id"),
        expectedVersion = Some(vRead))
    }
    assert(rows === before, "the refused merge wrote")
    assert(Warehouse.commitVersion(spark, t) === vRead + 2)
  }

  test("optimistic concurrency: an append or an evolving append between read and merge refuses the stale merge") {
    import spark.implicits._
    val t = "occ_append"
    def rows = spark.table(s"${Warehouse.Schema}.$t").collect()
      .map(_.toSeq).toSet
    Warehouse.mergeTable(Seq((1L, "a")).toDF("id", "state"), t, Seq("id"))
    val vRead = Warehouse.commitVersion(spark, t)
    Warehouse.appendTable(Seq((2L, "b")).toDF("id", "state"), t)
    assert(Warehouse.commitVersion(spark, t) === vRead + 1)
    val afterAppend = rows
    intercept[java.util.ConcurrentModificationException] {
      Warehouse.mergeTable(Seq((1L, "A")).toDF("id", "state"), t, Seq("id"),
        expectedVersion = Some(vRead))
    }
    assert(rows === afterAppend, "the refused merge wrote")
    val vRead2 = Warehouse.commitVersion(spark, t)
    Warehouse.appendEvolved(
      Seq((3L, "c", 0.5)).toDF("id", "state", "score"), t)
    assert(Warehouse.commitVersion(spark, t) === vRead2 + 1)
    val afterEvolve = rows
    intercept[java.util.ConcurrentModificationException] {
      Warehouse.mergeTable(Seq((1L, "A")).toDF("id", "state"), t, Seq("id"),
        evolve = true, expectedVersion = Some(vRead2))
    }
    assert(rows === afterEvolve, "the refused merge wrote")
    assert(Warehouse.commitVersion(spark, t) === vRead2 + 1)
  }
}
