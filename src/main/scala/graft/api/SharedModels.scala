package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The shared-model registry (SURVEY §5.3): families train/mine an
  * artifact once per (SparkContext, sfDir) and persist it as a warehouse
  * table; every later consumer reads the table. This object owns the
  * whole policy — cache key, table name, once-only build, publish and
  * reset — so producers are plain calls to [[table]], [[tables]] or
  * [[value]]. Two rules:
  *
  *   - Markers, not frames: the memo keeps a marker or a small
  *     driver-side value (LR weights, the quantizer's `k`, the corpus
  *     schemas of [[graft.Tables.schema]]), never a
  *     DataFrame. Callers get a fresh `spark.table` read on every call,
  *     so [[Checkpoints.releaseAll]] between queries can never leave a
  *     cached frame pointing at unpersisted blocks.
  *   - The scale factor rides the table name ([[tableFor]]): a marker
  *     keyed by sfDir pointing at a GLOBAL table name would silently
  *     serve one scale factor's artifact to another after an interleaved
  *     build (sf0.001 -> sf0.01 -> sf0.001 re-reads sf0.01 rows). With the
  *     sf in the name each scale factor owns its tables and staleness is
  *     structurally impossible.
  *
  * Concurrency: each artifact has its own slot, built under that slot's
  * lock, so two artifacts build in parallel, a second caller of the same
  * artifact waits for the first build instead of repeating it, and a
  * build may request another artifact (cells -> quantizer) without
  * nesting a map update. Artifact dependencies form a DAG, so slot locks
  * are always taken in one order. A failed build leaves its slot empty
  * and the next caller retries.
  */
object SharedModels {

  private def key(s: SparkSession, d: String, name: String) =
    (System.identityHashCode(s.sparkContext), d, name)

  /** `base` + a sanitized scale-factor tag + a short hash of the FULL
    * path, e.g. `ngram_pairs_full__sf0_01_1a2b3c4d` for
    * `/root/testdata/sf0.01`. The basename alone is not enough: markers
    * are keyed by the full sfDir, so two directories sharing a basename
    * (`/a/sf0.1` and `/b/sf0.1`) would share one physical table while
    * holding independent markers — after B builds, A's still-set marker
    * would serve B's artifact to A's consumers. The path hash makes
    * table identity agree with marker identity.
    */
  private def tableFor(base: String, d: String): String = {
    val tag = d.split('/').filter(_.nonEmpty).lastOption.getOrElse("root")
      .toLowerCase.replaceAll("[^a-z0-9]", "_")
    val h = scala.util.hashing.MurmurHash3.stringHash(d) & 0xffffffffL
    f"${base}__${tag}_$h%08x"
  }

  /** One artifact's build-once cell. */
  private final class Slot {
    @volatile private var done: Option[Any] = None
    def get(build: => Any): Any = done.getOrElse(synchronized {
      done.getOrElse { val v = build; done = Some(v); v }
    })
  }

  private val slots =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, String), Slot]

  private def track(s: SparkSession, d: String, name: String): Slot =
    slots.computeIfAbsent(key(s, d, name), _ => new Slot)

  /** A driver-side artifact: `build` runs once per (SparkContext, sfDir,
    * name) and its (small) result is returned on every call.
    */
  def value[V](s: SparkSession, d: String, name: String)(build: => V): V =
    track(s, d, name).get {
      val v = build
      require(!v.isInstanceOf[Dataset[_]],
        s"SharedModels.value($name) must not hold a DataFrame; publish it with table()")
      v
    }.asInstanceOf[V]

  /** Table artifacts that share one build: the first call per
    * (SparkContext, sfDir) runs `build`, which returns one frame per name
    * in `bases` (in order) and a small driver-side value; each frame is
    * published through [[graft.sources.Warehouse.replaceTable]] under its
    * scale-factor table name. Every call returns fresh reads of the
    * tables plus the value.
    */
  def tables[V](s: SparkSession, d: String, bases: String*)(
      build: => (Seq[DataFrame], V)): (Seq[DataFrame], V) = {
    val v = value(s, d, bases.mkString("+")) {
      val (frames, v) = build
      require(frames.size == bases.size,
        s"${bases.mkString(", ")}: build returned ${frames.size} frames")
      bases.zip(frames).foreach { case (b, f) =>
        graft.sources.Warehouse.replaceTable(f, tableFor(b, d))
      }
      v
    }
    (bases.map(b =>
      s.table(s"${graft.sources.Warehouse.Schema}.${tableFor(b, d)}")), v)
  }

  /** One table artifact: [[tables]] with a single frame and no value. */
  def table(s: SparkSession, d: String, base: String)(
      build: => DataFrame): DataFrame =
    tables(s, d, base)((Seq(build), ()))._1.head

  /** Forget every artifact — the next consumer of each retrains/re-mines
    * and overwrites its table, so determinism specs (reset, build twice,
    * compare) genuinely rebuild instead of re-reading the persisted table.
    */
  def resetAll(): Unit = slots.clear()
}
