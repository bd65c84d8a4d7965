package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col

/** The Load step of the reference ETL, Spark-native
  * (/root/reference/main.py:198-219 + connect_postgres_target.py:25-26):
  * `CREATE SCHEMA IF NOT EXISTS test` + drop-and-recreate target tables.
  *
  * Here the sink is the session catalog's warehouse (parquet-backed
  * managed tables); in production the same frames go to
  * `df.write.mode(Overwrite).jdbc(...)` — replace-mode semantics are
  * identical. `Overwrite` on a managed table is partition-parallel, unlike
  * the reference's row-chunked to_sql INSERTs, but NOT atomic: it drops the
  * old table and then writes the new files, so a write that fails midway
  * leaves a missing or partial table until the next publish succeeds (a
  * table format's snapshot commit would close this window).
  */
object Warehouse {

  val Schema = "test"

  /** S5: DDL side-effect at connect time (CREATE SCHEMA IF NOT EXISTS). */
  def ensureSchema(spark: SparkSession): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $Schema")

  private def ident(table: String) = TableIdentifier(table, Some(Schema))

  /** A publish to a missing table must also replace an ORPHAN location:
    * with the in-memory catalog, a prior JVM's managed-table directory
    * survives on disk with no catalog entry, and `saveAsTable` refuses to
    * adopt it (LOCATION_ALREADY_EXISTS). When the catalog DOES know the
    * table, the write replaces it itself and this is a no-op.
    */
  private def clearOrphanLocation(spark: SparkSession, table: String): Unit = {
    val cat = spark.sessionState.catalog
    if (!cat.tableExists(ident(table))) {
      val db = cat.getDatabaseMetadata(Schema)
      val path = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(db.locationUri), table)
      val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(path)) fs.delete(path, true)
    }
  }

  /** S3/S4: replace-mode load of a result table. */
  def replaceTable(df: DataFrame, table: String): Unit =
    publish(table, df)(save(table, SaveMode.Overwrite, None))

  /** S6: introspection scalar (the reference prints current_database()). */
  def currentDatabase(spark: SparkSession): String =
    spark.catalog.currentDatabase

  /** Table property carrying the optimistic-concurrency commit version. */
  private val CommitVersionProp = "graft.commit.version"

  /** Current commit version of a managed table (0 for a missing table).
    * EVERY publish — each writer below goes through [[commit]] — bumps it
    * by one, replace-style rewrites and appends included; a writer that
    * records the version it READ and passes it back as `expectedVersion`
    * ([[mergeTable]], [[compactClustered]]) gets the optimistic
    * check-and-swap every table format ships: publishing over a version
    * it did not read is refused, never silently lost.
    */
  def commitVersion(spark: SparkSession, table: String): Long = {
    val cat = spark.sessionState.catalog
    if (!cat.tableExists(ident(table))) 0L
    else cat.getTableMetadata(ident(table)).properties
      .getOrElse(CommitVersionProp, "0").toLong
  }

  /** The CHECK of check-and-swap: runs after the writer's reads are
    * materialized and immediately before its publish; a concurrent
    * publish since the caller's recorded read makes this throw instead
    * of silently overwriting the other writer's rows (the lost update).
    * Returns the current version so the successful publish can bump
    * from it.
    *
    * Atomicity caveat, same family as [[compact]]'s: the check and the
    * write are two steps, so two writers racing INSIDE this window can
    * still both pass — a table FORMAT closes that window with an atomic
    * snapshot commit (the version check rides the commit itself); the
    * engine semantics — record what you read, refuse to publish over
    * what you didn't — are exactly these, and WarehouseSpec stages the
    * read-modify-write race this detects.
    *
    * Crash-window caveat (the other half of the same non-atomicity): the
    * publish and the version-bump SWAP are also two steps, so a crash
    * BETWEEN them leaves the table's data changed but its version clock
    * stale — a later writer holding the pre-crash version then passes
    * this check against already-changed data (a lost update the racing-
    * writers caveat above does not cover). A table format closes this
    * too, by carrying the version inside the same atomic snapshot commit
    * as the data; on this catalog the recovery discipline is: after a
    * crashed write, re-publish (which bumps the version) before admitting
    * new guarded writers.
    */
  private def guardStale(spark: SparkSession, table: String,
      expected: Option[Long]): Long = {
    val cur = commitVersion(spark, table)
    expected.foreach { v =>
      if (cur != v) throw new java.util.ConcurrentModificationException(
        s"optimistic concurrency: $Schema.$table is at commit version " +
          s"$cur but the writer read version $v — the table changed " +
          "under the writer; re-read and retry")
    }
    cur
  }

  /** The one commit step every writer in this object ends in: the
    * reference's Load policy (create the schema, then replace the target)
    * plus what a publish owes later readers, in this order:
    *   1. ensure the schema; clear an orphan location if the table is
    *      missing ([[clearOrphanLocation]]);
    *   2. `selfRead`: materialize `out0` (localCheckpoint) — Spark refuses
    *      an overwrite that reads its own target;
    *   3. collect the `touched` partitions (one column per partition
    *      column, same names) that `out` leaves with no rows — dynamic
    *      overwrite alone would keep their stale files;
    *   4. check `expected` ([[guardStale]]), immediately before the write;
    *   5. `write(out)`;
    *   6. release the blocks materialized for this publish (`out` when
    *      `selfRead`, plus the writer's own `scratch`), also when 4–5 throw;
    *   7. drop the emptied partitions through the catalog (a NULL value
    *      maps to the default-partition name; values go through the same
    *      Cast-to-string the writer uses for directory names, because
    *      e.g. java.sql.Timestamp's toString differs);
    *   8. set the commit version to prior + 1 — explicitly, since a
    *      replace-style write recreates the table definition and would
    *      otherwise reset the clock, and an append would not move it.
    * Staging a write and swapping it in (atomic publish) belongs here too:
    * this is the one place every publish passes through.
    */
  private def commit(table: String, out0: DataFrame, selfRead: Boolean,
      expected: Option[Long], touched: Option[DataFrame],
      scratch: Seq[DataFrame])(write: DataFrame => Unit): Unit = {
    val spark = out0.sparkSession
    ensureSchema(spark)
    clearOrphanLocation(spark, table)
    val out = if (selfRead) out0.localCheckpoint() else out0
    val materialized = if (selfRead) out +: scratch else scratch
    val (prior, emptied) =
      try {
        val emptied = touched.toSeq.flatMap { t =>
          val pc = t.columns.toSeq
          t.as("t").join(out.select(pc.map(col): _*).distinct().as("o"),
              pc.map(c => col(s"t.$c") <=> col(s"o.$c")).reduce(_ && _),
              "left_anti")
            .select(pc.map(c => col(s"t.$c").cast("string")): _*)
            .collect().toSeq.map(r => pc.zipWithIndex.map { case (c, i) =>
              c -> (if (r.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__"
                    else r.getString(i))
            }.toMap)
        }
        val prior = guardStale(spark, table, expected)
        write(out)
        (prior, emptied)
      } finally materialized.foreach(graft.api.Checkpoints.release(_))
    if (emptied.nonEmpty)
      spark.sessionState.catalog.dropPartitions(ident(table), emptied,
        ignoreIfNotExists = true, purge = false, retainData = false)
    spark.sql(s"ALTER TABLE $Schema.$table SET TBLPROPERTIES " +
      s"('$CommitVersionProp' = '${prior + 1}')")
  }

  /** [[commit]] for a writer that neither reads its target nor guards. */
  private def publish(table: String, out: DataFrame)(
      write: DataFrame => Unit): Unit =
    commit(table, out, selfRead = false, None, None, Nil)(write)

  /** The saveAsTable write of `Schema.table`, optionally partitioned. */
  private def save(table: String, mode: SaveMode, partCol: Option[String])(
      out: DataFrame): Unit = {
    val w = out.write.mode(mode)
    partCol.fold(w)(w.partitionBy(_)).saveAsTable(s"$Schema.$table")
  }

  /** The reference's full Load step (main.py:62-219): one extract feeds
    * both derived tables, replace mode.
    *
    *   - One extract: `LoanDomain.joined` (about one row per loan) is built
    *     once, hash-spread on `loan_id` over the session's shuffle
    *     partitions and materialized (localCheckpoint) before the
    *     schedule's explode; both tables derive from it, and it is released
    *     after both publishes, also when one throws.
    *   - Spread: each write runs one task per partition of the extract, so
    *     each table lands as that many files, and no write shuffles the
    *     exploded schedule rows.
    *   - Set semantics: a loaded table is a set, so neither write sorts
    *     (the registry frames keep their presentation ORDER BY), and the
    *     schedule's running count is closed-form
    *     ([[graft.loan.LoanDomain.monthlySchedule]]): neither write plan
    *     holds a window or a global sort.
    */
  def loadAll(spark: SparkSession, sfDir: String): Unit = {
    import graft.loan.LoanDomain
    val extract = LoanDomain.joined(spark, sfDir)
      .repartition(spark.sessionState.conf.numShufflePartitions, col("loan_id"))
      .localCheckpoint()
    try {
      replaceTable(LoanDomain.loanFinalRows(extract), "loan_final")
      replaceTable(LoanDomain.monthlySchedule(extract), "loan_monthly_schedule")
    } finally graft.api.Checkpoints.release(extract)
  }

  /** Partitioned replace-mode load: one directory per partition value —
    * the layout that gives partition PRUNING on the read path (a filter on
    * the partition column skips whole directories at 100 TB).
    */
  def replacePartitioned(df: DataFrame, table: String, partCol: String): Unit =
    publish(table, df)(save(table, SaveMode.Overwrite, Some(partCol)))

  /** Incremental-batch load: APPEND into an existing (typically
    * partitioned) managed table — the batch's files land inside the
    * partition directories it touches; untouched partitions are not
    * rewritten. This is the WRITE side of index/cluster maintenance
    * ([[graft.sim.SimQueries.ivfpqIncremental]]): a 10% batch append
    * moves ~10% of the data, where replace-mode would rewrite 100%.
    * The existing table's partition spec governs the layout (saveAsTable
    * Append resolves columns by name and validates against the catalog
    * spec). Not idempotent on retry — exactly-once belongs to the
    * table-format layer (the [[compact]] caveat); callers that need
    * replay safety overwrite the touched partitions instead.
    */
  def appendTable(df: DataFrame, table: String,
      partCol: Option[String] = None): Unit =
    publish(table, df)(save(table, SaveMode.Append, partCol))

  /** Bucketed replace-mode load: rows hash-distributed into `buckets`
    * files per bucket key. Two tables bucketed the same way join WITHOUT a
    * shuffle (Exchange disappears from the plan) — the write-time answer
    * to the biggest cost of repeated large joins at scale.
    */
  def replaceBucketed(df: DataFrame, table: String,
    bucketCol: String, buckets: Int): Unit =
    publish(table, df)(_.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(s"$Schema.$table"))

  /** Partition-level compaction — the maintenance step
    * [[appendTable]]-driven tables eventually need: every incremental
    * batch adds files to the partitions it touches (one per task), and
    * after many batches a hot partition's scan pays per-file open +
    * footer costs. Rewrites ONE partition's rows into `targetFiles`
    * files via dynamic partition overwrite (only the written partition
    * is replaced; sibling partitions' files are untouched — the
    * whole-table [[compact]] would rewrite 100% to fix 1%). The
    * partition is materialized ([[commit]]) before the overwrite —
    * Spark refuses an insert that reads from its own target. Same
    * non-atomicity caveat as [[compact]]: a crash mid-write leaves the
    * partition partially rewritten; table formats with snapshot commits
    * solve this properly.
    */
  def compactPartition(spark: SparkSession, table: String,
      partCol: String, value: Any, targetFiles: Int = 1): Unit = {
    val qualified = s"$Schema.$table"
    commit(table, spark.table(qualified).filter(col(partCol) === value)
        .repartition(targetFiles), selfRead = true, None, None, Nil)(
      overwritePartitioned(spark, qualified, _, "dynamic"))
  }

  /** MERGE INTO (keyed upsert): delta rows UPDATE the current row with the
    * same key and INSERT where no key matches — the production Load step
    * for mutable dimensions that [[replaceTable]] (full republish) and
    * [[appendTable]] (immutable facts) don't cover. Creates the table on
    * first merge. Matches the SQL MERGE contract where it matters:
    * duplicate keys in ONE delta are rejected (multiple WHEN MATCHED
    * candidates — the same error Delta/Iceberg MERGE throws), and the
    * merge is idempotent (re-merging the same delta is a no-op on
    * content), the [[graft.streaming.StreamSinks]] replay discipline.
    *
    * Physical shape: survivors are `current LEFT ANTI JOIN delta-keys`
    * (NULL-SAFE on every key — a NULL-keyed current row must MATCH a
    * NULL-keyed delta row or replaying the same delta would duplicate
    * it, and the dup-key guard already treats NULL keys as equal) union
    * the delta, materialized (localCheckpoint) BEFORE the overwrite
    * because the write reads from its own target. Layout is PRESERVED,
    * never silently dropped (the [[compact]] refusal discipline):
    *   - partition columns all ride the key -> only the partitions the
    *     delta touches are rewritten (dynamic partition overwrite, the
    *     [[compactPartition]] mechanics) — at 100 TB a dimension batch
    *     rewrites the touched slivers, never the table;
    *   - partitioned otherwise -> full-content overwrite THROUGH the
    *     existing table definition (insertInto, static overwrite), so
    *     the partition layout survives for later readers;
    *   - bucketed -> refused (Spark cannot insertInto a bucketed table
    *     and a plain rewrite would silently drop the shuffle-free-join
    *     property — same reason [[compact]] refuses);
    *   - first merge on a missing table creates it UNPARTITIONED;
    *     callers that want the pruned path create the layout first
    *     ([[replacePartitioned]]) and merge into it.
    *
    * `deletes` is the DELETE side of a CDC apply — an explicit frame of
    * KEY rows to remove (scoped by construction: the caller names every
    * key it deletes, so there is no unscoped WHEN-NOT-MATCHED-BY-SOURCE
    * full-table-delete trap). Delete keys absent from the table are
    * no-ops (replay idempotence); a key in BOTH delta and deletes is
    * rejected — the command is ambiguous. Deletes ride the same
    * survivors anti join, so the pruned path still rewrites only the
    * touched partitions (delta's plus the delete keys'); a touched
    * partition whose every row is deleted produces NO output rows, which
    * dynamic overwrite alone would silently leave on disk — those
    * partitions are dropped through the catalog after the write (a NULL
    * partition value maps to the default-partition name). `delta` may be
    * empty (a pure retention purge) but must carry the table's schema.
    *
    * `evolve = true` makes the merge SCHEMA-EVOLVING: a delta carrying
    * NEW columns widens the table definition first (the [[appendEvolved]]
    * step — one catalog edit, old files read the column as NULL, type
    * changes rejected) and a delta MISSING columns gets typed-NULL
    * fills. Off by default: for keyed upserts a silent schema mismatch
    * is usually a producer bug, so the hard error is the safer default.
    *
    * `expectedVersion` opts into OPTIMISTIC CONCURRENCY: pass the
    * [[commitVersion]] the writer read and the merge refuses
    * (ConcurrentModificationException, nothing written) if any publish
    * landed since — the lost-update detection every table format ships
    * ([[guardStale]] for the atomicity caveat). Every successful merge
    * bumps the version, guarded or not (the [[commit]] step).
    *
    * A table FORMAT (Delta/Iceberg) gets the same semantics with
    * file-level skipping + a snapshot commit; this is the engine
    * semantics under it.
    */
  def mergeTable(delta0: DataFrame, table: String, keys: Seq[String],
      deletes: Option[DataFrame] = None, evolve: Boolean = false,
      expectedVersion: Option[Long] = None): Unit = {
    import org.apache.spark.sql.functions.{broadcast, count, lit}
    val spark = delta0.sparkSession
    val qualified = s"$Schema.$table"
    require(keys.nonEmpty, "mergeTable needs at least one key column")
    val keyCols = keys.map(col)
    // the dup-key guard, the overlap guard and the write all read the
    // delta: materialize it once; the commit step releases it
    val staged = delta0.localCheckpoint()
    val dup = staged.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
    require(dup == 0,
      s"mergeTable delta has duplicate keys on (${keys.mkString(", ")})")
    val delKeys = deletes.map(_.select(keyCols: _*).distinct())
    val cat = spark.sessionState.catalog
    if (!cat.tableExists(ident(table))) {
      // delete keys against a missing table are all no-ops; a writer
      // claiming to have read a positive version of a table that does
      // not exist is stale by definition (someone dropped it since)
      commit(table, staged, selfRead = false, expectedVersion, None,
        Seq(staged))(save(table, SaveMode.Overwrite, None))
      return
    }
    // evolution-aware merge: a CDC feed that gains a column mid-stream
    // widens the serving table's definition BEFORE the apply (the
    // [[appendEvolved]] step — old files read the column as NULL, type
    // changes rejected). Without the flag an unknown delta column is
    // REJECTED, never silently dropped — losing a producer's new column
    // on every upsert is exactly the quiet data-loss evolution exists
    // to prevent.
    if (!evolve) {
      val known = spark.table(qualified).columns
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      val unknown = staged.columns
        .filterNot(c => known(c.toLowerCase(java.util.Locale.ROOT)))
      require(unknown.isEmpty,
        s"mergeTable: delta carries columns $qualified does not have " +
          s"(${unknown.mkString(", ")}) — pass evolve = true to widen " +
          "the table, or drop them explicitly")
    }
    val delta = if (evolve) evolveAndAlign(staged, table) else staged
    delKeys.foreach { dk0 =>
      val overlap = delta.select(keyCols: _*).as("a")
        .join(dk0.as("b"),
          keys.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _),
          "left_semi")
        .limit(1).count()
      require(overlap == 0,
        s"mergeTable delta and deletes share keys on (${keys.mkString(", ")})" +
          " — upsert-then-delete is ambiguous; pick one per key")
    }
    val meta = cat.getTableMetadata(ident(table))
    require(meta.bucketSpec.isEmpty,
      s"mergeTable() would discard the bucket layout of $qualified")
    val partCols = meta.partitionColumnNames
    val cols = spark.table(qualified).columns.map(col).toIndexedSeq
    // partition-pruned path when every partition column rides the key: a
    // key row can never move partitions (its partition values ARE key
    // values), so rows outside the touched partitions are untouchable and
    // stay on disk as-is. Null-safe like the survivors join: a NULL
    // partition value lands in the default partition, and a plain-
    // equality semi join would drop the current table's NULL-partition
    // rows from the survivors frame while the delta's NULL rows still put
    // that partition into the dynamic overwrite — silently deleting its
    // non-matching rows
    val pruned = partCols.nonEmpty && partCols.forall(keys.contains)
    val touched = Option.when(pruned) {
      val deltaParts = delta.select(partCols.map(col): _*)
      delKeys.fold(deltaParts)(d => deltaParts.unionByName(
          d.select(partCols.map(col): _*)))
        .distinct()
    }
    val cur = touched.fold(spark.table(qualified))(t =>
      spark.table(qualified).as("cur").join(broadcast(t).as("t"),
        partCols.map(c => col(s"cur.$c") <=> col(s"t.$c")).reduce(_ && _),
        "left_semi"))
    // null-safe anti join: a NULL key must match a NULL key, or replaying
    // the same delta re-inserts its NULL-keyed rows (idempotence contract);
    // delete keys ride the same removal set — a survivor is a current row
    // matching neither an upserted nor a deleted key
    val upsertKeys = delta.select(keyCols: _*).distinct()
    val dk = delKeys.fold(upsertKeys)(d => upsertKeys.unionByName(d))
      .distinct().as("k")
    val out = cur.as("c")
      .join(dk, keys.map(k => col(s"c.$k") <=> col(s"k.$k")).reduce(_ && _),
        "left_anti")
      .unionByName(delta.select(cols: _*))
      .select(cols: _*)
    // unpartitioned: a plain overwrite; partitioned: THROUGH the existing
    // table definition so the layout survives — only the touched
    // partitions when pruned, every partition otherwise
    commit(table, out, selfRead = true, expectedVersion, touched,
        Seq(staged)) { o =>
      if (partCols.isEmpty) save(table, SaveMode.Overwrite, None)(o)
      else overwritePartitioned(spark, qualified, o,
        if (pruned) "dynamic" else "static")
    }
  }

  /** `INSERT OVERWRITE` through an existing partitioned table definition
    * under the given partitionOverwriteMode ("dynamic" = only partitions
    * present in `out` are replaced; "static" = full content), restoring
    * the session conf afterwards — the write step [[mergeTable]],
    * [[compactClustered]] and [[compactPartition]] share.
    */
  private def overwritePartitioned(spark: SparkSession, qualified: String,
      out: DataFrame, mode: String): Unit = {
    val prior =
      spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
    try out.write.mode(SaveMode.Overwrite).insertInto(qualified)
    finally prior match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Clustered-rewrite maintenance — the lakehouse `OPTIMIZE ... ZORDER BY`
    * verb ([[compact]] fixes file COUNT; this fixes file PLACEMENT): a
    * table partitioned by a physical placement key `partCol` whose rows
    * carry their IDEAL multi-dimensional cluster cell in `clusterCol`
    * (a Z/Hilbert curve cell id — [[graft.layout.LayoutQueries]] computes
    * them) accumulates misplaced rows as ingest appends land in
    * arrival-order files; this rewrites every misplaced row into its
    * cluster cell's partition and returns the number of rows moved.
    *
    * INCREMENTAL by construction — the property that makes weekly
    * OPTIMIZE affordable at 100 TB: only partitions that hold a
    * misplaced row (sources) or receive one (destinations) are
    * rewritten, via the [[mergeTable]] dynamic-overwrite mechanics; a
    * fully-clustered table is a no-op (returns 0 without writing), and
    * already-clustered partitions nothing moved into keep their files
    * byte-identical (LayoutSpec pins this from the real file listing).
    * Source partitions emptied by the move (an append file whose every
    * row belonged elsewhere) are invisible to dynamic overwrite and are
    * dropped through the catalog — the [[mergeTable]] emptied-partition
    * discipline. Same crash-atomicity caveat as every rewrite here: a
    * table FORMAT gets the identical semantics under a snapshot commit.
    *
    * `expectedVersion` is the [[mergeTable]] optimistic-concurrency
    * guard: an OPTIMIZE that read the table at version v refuses to
    * publish its rewrite over an ingest that landed after v (a no-op
    * rewrite publishes nothing and skips the check).
    */
  def compactClustered(spark: SparkSession, table: String,
      partCol: String, clusterCol: String,
      expectedVersion: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.broadcast
    val qualified = s"$Schema.$table"
    val meta = spark.sessionState.catalog.getTableMetadata(ident(table))
    require(meta.partitionColumnNames == Seq(partCol),
      s"compactClustered expects $qualified partitioned by exactly ($partCol)")
    require(meta.bucketSpec.isEmpty,
      s"compactClustered() would discard the bucket layout of $qualified")
    val t = spark.table(qualified)
    val cols = t.columns.map(col).toIndexedSeq
    val misplaced = t.filter(!(col(partCol) <=> col(clusterCol)))
    val nMoved = misplaced.count()
    if (nMoved > 0L) {
      // touched = partitions losing rows plus partitions gaining them; all
      // their rows rewrite (a destination's resident rows must ride the
      // dynamic overwrite or they'd be dropped with the old files), and
      // the sources the move empties are dropped by the commit step
      val touched = misplaced.select(col(partCol))
        .unionByName(misplaced.select(col(clusterCol).as(partCol)))
        .distinct()
      val out = t.as("cur")
        .join(broadcast(touched).as("t"),
          col(s"cur.$partCol") <=> col(s"t.$partCol"), "left_semi")
        .withColumn(partCol, col(clusterCol))
        .select(cols: _*)
      commit(table, out, selfRead = true, expectedVersion, Some(touched),
        Nil)(overwritePartitioned(spark, qualified, _, "dynamic"))
    }
    nMoved
  }

  /** Schema-EVOLUTION append — the lakehouse lifecycle primitive
    * [[appendTable]] lacks: a producer that GAINS columns mid-stream
    * appends through a WIDENED table definition instead of failing or
    * forking a second table.
    *
    *   - NEW columns (absent from the catalog schema) widen the table
    *     metadata via `ALTER TABLE ADD COLUMNS`; files already on disk
    *     are NEVER rewritten — parquet scans project an absent column as
    *     NULL, so the metadata edit IS the whole evolution (the
    *     Delta/Iceberg add-column shape, O(1) at 100 TB);
    *   - MISSING columns (the catalog has them, the batch doesn't — an
    *     old-schema producer still publishing after the evolution) are
    *     filled with typed NULLs, so pre-evolution writers keep working
    *     untouched;
    *   - TYPE CHANGES are REJECTED, widening and narrowing alike:
    *     narrowing is corruption, and silent widening would desync the
    *     on-disk physical types from the catalog (a table FORMAT versions
    *     physical schemas per file; engine semantics stop at
    *     "same name = same type"). Nothing is written on rejection.
    *
    * Partition columns live in the catalog schema too, so they can never
    * evolve through this path (they are directory structure). Creates the
    * table on first append (the [[mergeTable]] convention).
    */
  def appendEvolved(df: DataFrame, table: String,
      partCol: Option[String] = None): Unit = {
    val exists = df.sparkSession.sessionState.catalog.tableExists(ident(table))
    publish(table, if (exists) evolveAndAlign(df, table) else df)(
      save(table, SaveMode.Append, partCol))
  }

  /** The evolution step shared by [[appendEvolved]] and evolution-aware
    * [[mergeTable]] calls: widen `table`'s definition with `df`'s new
    * columns (ALTER TABLE ADD COLUMNS — files never rewrite), reject
    * type changes, and return `df` aligned to the widened schema with
    * typed NULLs for its missing columns. The table must exist.
    */
  private def evolveAndAlign(df: DataFrame, table: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = df.sparkSession
    val qualified = s"$Schema.$table"
    val cat = spark.sessionState.catalog
    def norm(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val meta = cat.getTableMetadata(ident(table))
    val incoming = df.schema.fields.map(f => norm(f.name) -> f).toMap
    // shared columns: the name is the contract, the type must hold it
    meta.schema.fields.foreach { ef =>
      incoming.get(norm(ef.name)).foreach { nf =>
        require(nf.dataType == ef.dataType,
          s"schema evolution: $qualified.${ef.name} is ${ef.dataType.sql} " +
            s"but the batch carries ${nf.dataType.sql} — type changes " +
            "are corruption, not evolution")
      }
    }
    val known = meta.schema.fieldNames.map(norm).toSet
    val added = df.schema.fields.filterNot(f => known(norm(f.name)))
    if (added.nonEmpty) {
      val ddl = added.map(f => s"`${f.name}` ${f.dataType.sql}")
        .mkString(", ")
      spark.sql(s"ALTER TABLE $qualified ADD COLUMNS ($ddl)")
    }
    // align to the (possibly widened) definition: typed-NULL fill for the
    // batch's missing columns; writers resolve by name
    val target = cat.getTableMetadata(ident(table)).schema
    df.select(target.fields.toIndexedSeq.map { f =>
      if (incoming.contains(norm(f.name))) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Version suffix for [[snapshotTable]] snapshots. */
  private val SnapSuffix = "__v"

  /** Snapshot the CURRENT contents of a table as an immutable version —
    * the time-travel/rollback primitive replace-mode loads otherwise
    * destroy: `replaceTable` replaces a table's contents, and
    * with a snapshot taken first, yesterday's load survives today's
    * overwrite ([[readSnapshot]] serves it; audits, A/B diffs against
    * the prior publish, and rollback all read it). Returns the new
    * version number (1-based, monotone per table).
    *
    * Semantics here = a full CTAS copy, which attests read-at-version
    * stability byte-for-byte; a production table FORMAT (Delta/Iceberg)
    * gets the same semantics metadata-only, by pinning the file
    * manifest instead of copying files — a format concern, not a
    * semantics one (the [[compact]] caveat's mirror image).
    */
  def snapshotTable(spark: SparkSession, table: String): Int = {
    val v = snapshots(spark, table).lastOption.getOrElse(0) + 1
    val snap = s"${table.toLowerCase}$SnapSuffix$v"
    // the commit step's orphan-directory guard: a prior JVM's snapshot
    // directory with no catalog entry must not wedge versioning
    publish(snap, spark.table(s"$Schema.$table"))(
      save(snap, SaveMode.ErrorIfExists, None))
    v
  }

  /** Read a table AS OF snapshot version `v` (from [[snapshotTable]]). */
  def readSnapshot(spark: SparkSession, table: String, v: Int): DataFrame =
    spark.table(s"$Schema.${table.toLowerCase}$SnapSuffix$v")

  /** Existing snapshot versions of `table`, ascending. The catalog
    * lowercases table names, so the prefix must too (a mixed-case caller
    * would otherwise see an empty history and recompute version 1).
    */
  def snapshots(spark: SparkSession, table: String): Seq[Int] = {
    val prefix = s"${table.toLowerCase}$SnapSuffix"
    spark.sessionState.catalog.listTables(Schema)
      .map(_.table)
      .filter(_.startsWith(prefix))
      .flatMap(n => n.stripPrefix(prefix).toIntOption)
      .sorted
  }

  /** Snapshot retention: drop every snapshot of `table` older than the
    * newest `keep` versions, returning the versions removed (ascending).
    * The lifecycle leg snapshot/diff/merge/compact leave open — CTAS
    * snapshots hold real file copies, so an audit pipeline that snapshots
    * every publish grows the warehouse by one table-size per day until
    * something reclaims the history. Version numbering keeps ascending
    * after a vacuum ([[snapshotTable]] derives the next version from the
    * SURVIVING maximum), so retention never recycles a version id a
    * downstream reader may have recorded. DROP TABLE on a managed table
    * deletes its files; under a table FORMAT the same call expires
    * manifests and lets a GC pass unreference the files (VACUUM in
    * Delta, expire_snapshots in Iceberg) — semantics here, mechanics
    * there, the [[snapshotTable]] caveat's mirror image.
    */
  def vacuumSnapshots(spark: SparkSession, table: String, keep: Int): Seq[Int] = {
    require(keep >= 1, s"vacuumSnapshots(keep = $keep): keeping fewer than " +
      "one snapshot would silently disable time travel; drop the table " +
      "explicitly if the history is truly dead")
    val doomed = snapshots(spark, table).dropRight(keep)
    doomed.foreach { v =>
      spark.sql(s"DROP TABLE $Schema.${table.toLowerCase}$SnapSuffix$v")
    }
    doomed
  }

  /** Small-file compaction: rewrite a managed table into `targetFiles`
    * output files. Long-running ingestion accumulates many small files
    * (one per micro-batch/task); scans then pay per-file open + footer
    * costs and lose vectorized-read efficiency. At 100 TB this runs
    * per-partition, driven by file-size stats.
    *
    * Refuses partitioned/bucketed tables — a plain rewrite would silently
    * discard their layout (and with it pruning / shuffle-free joins).
    * The DROP+RENAME swap is NOT atomic (Spark's catalog has no table
    * swap): a crash between the two statements leaves only the staging
    * table `<table>_compacting` to recover from. Table-format layers
    * (Iceberg/Delta) solve this with snapshot commits.
    */
  def compact(spark: SparkSession, table: String, targetFiles: Int): Unit = {
    val qualified = s"$Schema.$table"
    val meta = spark.sessionState.catalog.getTableMetadata(ident(table))
    require(meta.partitionColumnNames.isEmpty && meta.bucketSpec.isEmpty,
      s"compact() would discard the partition/bucket layout of $qualified")
    publish(table, spark.table(qualified).repartition(targetFiles)) { df =>
      val tmp = s"${qualified}_compacting"
      df.write.mode(SaveMode.Overwrite).saveAsTable(tmp)
      spark.sql(s"DROP TABLE $qualified")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $qualified")
    }
  }
}
