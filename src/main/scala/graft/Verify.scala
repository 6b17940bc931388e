package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Gate-cost rules (a sequential dump runs ~30 min, and a timeout
  * before the oracle file lands leaves nothing comparable):
  *  - `oracle_sql.json` is written FIRST, before any query executes, so a
  *    mid-dump kill still leaves every completed query comparable;
  *  - queries dump CONCURRENTLY on a small fixed pool (each query is
  *    already internally parallel, but tiny-sf jobs leave most cores idle
  *    between stages — 6 dumps in flight keeps the box busy);
  *  - work units are ordered CHEAPEST-FIRST (static family-cost rank), so
  *    a kill at minute N leaves the longest possible prefix of scored
  *    rows rather than a few half-done heavies;
  *  - queries sharing a persisted index tier are fused into ONE unit and
  *    run sequentially inside it — `ann_index_build` rewriting the IVF
  *    tier mid-`knn_ivf_indexed` probe would be a dump-harness race, not
  *    an engine property.
  */
object Verify {

  /** Queries that ensure/rebuild the SAME on-disk tier (marker-gated
    * build-once roots in SimilarityQueries). Content is deterministic so
    * intra-group order is irrelevant, but two members running at once
    * could overwrite artifacts mid-read. Membership mirrors the
    * `indexRoot` kinds in SimilarityQueries — one group per persisted
    * root with >1 registry reader/writer (`graft_graph_index`,
    * `graft_ivf_index` + its upsert/multi variants); a name listed here
    * but absent from the registry fails fast in main() so renames can't
    * silently reopen the race. */
  private val tierGroups: Seq[(String, Seq[String])] = Seq(
    "tier_ivf_main" -> Seq("ann_index_build", "knn_ivf_indexed",
      "stream_ann_query_replay"),
    "tier_ivf_upsert" -> Seq("ann_index_upsert", "knn_ivf_upserted"),
    "tier_ivf_multi" -> Seq("ann_upsert_multi", "knn_ivf_upserted_multi"),
    // graph + lex SERVING tiers share one group: search_hybrid_indexed
    // reads BOTH roots, so every reader/builder of either root
    // serializes here (a query may appear in only ONE group — units
    // would dump it twice otherwise)
    "tier_graph_lex_main" -> Seq("ann_index_graph", "ann_graph_search",
      "ann_graph_recall", "ann_graph_beam_sweep", "emb_semdedup_graph",
      "search_bm25_indexed", "search_hybrid_indexed",
      // the recall evaluators and the pruned serve all ensure-build
      // the SAME lex root (two concurrent lex-tier builds race into
      // doubled part files, which show as 2× scores)
      "search_recall", "search_bm25_pruned", "search_pruned_recall",
      "search_hybrid_pruned",
      // the WAND exact-bounded serve and the pruned-hybrid recall
      // evaluator ensure-build the same lex (and graph) roots (every
      // ensure-builder of a shared root lists here in the SAME commit
      // that adds it)
      "search_bm25_wand", "search_hybrid_pruned_recall",
      // the cluster-head-entry serve and its recall evaluator
      // read the same shared graph root
      "ann_graph_clustered", "ann_graph_clustered_recall",
      "ann_graph_filtered"),
    // both ensure-build the SAME [0, UpsertSplit) base graph root
    // (build amortization) — concurrent first builds would race
    "tier_graph_base" -> Seq("ann_graph_upsert", "stream_graph_upsert_replay"),
    // the WAND upsert twin reads the SAME graft_lex_upsert
    // root that search_bm25_upsert REBUILDS unconditionally every run
    // — concurrent dump = reading a tier mid-rewrite
    "tier_lex_upsert" -> Seq("search_bm25_upsert", "search_bm25_wand_upsert"),
    // both ensure-build against the SAME persisted model root — the
    // single-writer contract every shared tier root carries
    "tier_bpe_model" -> Seq("text_bpe_frozen", "text_bpe_fertility"))

  /** Static cost rank for the cheapest-first submission order — families
    * calibrated from BENCH_DETAIL medians (graph builds ≫ stream replays
    * and substring dedup ≫ the rest). Only ORDER matters here. */
  private def costRank(name: String): Int =
    if (name.startsWith("ann_graph") || name == "ann_knn_graph" ||
        name == "emb_semdedup_graph" || name.startsWith("stream_graph")) 3
    else if (name.startsWith("stream_") || name.startsWith("dedup_substring") ||
        name.startsWith("ann_") || name.startsWith("knn_ivf") ||
        name == "emb_semdedup" || name.startsWith("text_bpe") ||
        name == "text_quality_classifier" || name == "text_repetition") 2
    else 1

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.core.Tables.nanosAsLongConf._1, graft.core.Tables.nanosAsLongConf._2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

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
    // oracle dump FIRST: a driver timeout mid-dump must
    // degrade to a partial compare, never to `{}`
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // local-iteration filter (same contract as Bench); the driver sets
    // no filter and dumps the full registry
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }

    def dumpOne(name: String): Unit = {
      val t0 = System.nanoTime()
      try {
        selected(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        // a stderr-only failure would make a broken query VANISH from
        // the driver's correctness report instead of showing as an
        // error. Leave an error artifact in the query's slot so the
        // compare records a failed row rather than omitting it.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val d = Paths.get(s"$outDir/$name")
        Files.createDirectories(d)
        Files.writeString(d.resolve("_ERROR.txt"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
      }
    }

    // fail fast on registry drift: a tierGroups name missing from the
    // registry would otherwise be dropped SILENTLY by the filter below,
    // quietly reintroducing the concurrent-dump artifact race the
    // groups exist to serialize (a renamed query keeps its old name
    // here and its new name races its tier-mates)
    val unknown = tierGroups.flatMap(_._2).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"Verify.tierGroups names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val grouped = tierGroups.map { case (g, names) =>
      g -> names.filter(selected.contains)
    }.filter(_._2.nonEmpty)
    val inGroups = grouped.flatMap(_._2).toSet
    val units: Seq[(Int, String, Seq[String])] =
      (selected.keys.filterNot(inGroups).map(n => (costRank(n), n, Seq(n))).toSeq ++
        grouped.map { case (g, names) => (names.map(costRank).max, g, names) })
        .sortBy { case (rank, name, _) => (rank, name) }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    units.foreach { case (_, _, names) =>
      pool.execute(() => names.foreach(dumpOne))
    }
    pool.shutdown()
    pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)
    spark.stop()
  }
}
