package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing names restrict the dump (builder-side iteration);
    // the driver always calls with exactly (sfDir, outDir) -> full dump
    val Seq(sfDir, outDir, only @ _*) = args.toSeq
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // fail fast on typo'd names — a silent no-op dump would merge nothing
    // and leave a stale artifact (same contract as Bench)
    val unknown = only.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally graft.api.Checkpoints.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val fresh = SparkEntry.oracleSql
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    // a restricted dump MERGES into any existing oracle map instead of
    // clobbering it: re-pointing the checker at a shared outDir after
    // single-query iteration must never see a stale-mixed artifact (full
    // per-query parquet dirs + a subset-only oracle file)
    val target = Paths.get(s"$outDir/oracle_sql.json")
    val prior: Map[String, String] =
      if (only.nonEmpty && Files.exists(target)) {
        import org.json4s._
        org.json4s.jackson.JsonMethods.parse(Files.readString(target)) match {
          case JObject(fields) =>
            fields.collect { case (k, JString(v)) => k -> v }.toMap
          case _ => Map.empty
        }
      } else Map.empty
    val json = (prior ++ fresh)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(target, json)
    // Attestation side-channel: edges-only twins of the recursive-CTE
    // cluster oracles plus their thresholds, built by the SAME Scala
    // builders as the registry oracles. tools/check_clusters_unionfind.py
    // consumes this instead of pattern-splitting formatted SQL, so a
    // constant or formatting change can never silently desynchronize the
    // 10x scale check. Not part of oracle_sql.json: these have no
    // matching parquet dump for the driver's per-query compare.
    val attest = Map(
      "dedup_cluster_edges" -> graft.dedup.DedupOracle.clusterEdgesOnlySql,
      "dedup_cluster_multi_edges" -> graft.dedup.DedupOracle.multiEdgesOnlySql,
      "threshold_jaccard" -> graft.dedup.DedupQueries.ClusterJaccard.toString,
      "threshold_hamming" -> graft.dedup.DedupQueries.ClusterHamming.toString)
    Files.writeString(Paths.get(s"$outDir/attest_sql.json"),
      attest.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
