package perfbench

/** The workloads: fixed query lists from `graft.SparkEntry.queries`. Why
  * each exists is in NOTES.md. */
object Workloads {
  /** The agnes operator surface on the TPC-H-ish tables: per-query fixed
    * costs (planning, codegen, job launch) dominate. */
  val relational: Seq[String] = Seq(
    "q01_pricing_summary", "q03_join_agg_revenue", "q07_melt", "q09_stats",
    "q34_pivot", "q39_quantiles")

  /** Dedup, similarity and graph work over documents: shuffled pair
    * joins, task CPU and iterative eager jobs dominate. */
  val corpus: Seq[String] = Seq(
    "d22_jaccard_pairs", "d73_dup_clusters", "s157_sparse_mlt", "t25_text_quality")

  /** Micro-batch state stores, checkpoint/WAL commits and file
    * writes/upserts. */
  val streaming: Seq[String] = Seq(
    "q58_stream_window", "q124_stream_scd2", "q85_upsert_snapshot", "q83_compacted_write")

  val all: Map[String, Seq[String]] =
    Map("tables" -> (relational ++ streaming), "corpus" -> corpus)

  /** Seconds of one warm pass on the 4-core machine the benchmark was
    * sized on. `--seconds` divided by it, rounded up, is the number of
    * measured warm passes: a fixed amount of work, so a faster program
    * does not also get more warm-up, and a slow host does not get fewer
    * samples. */
  val nominalPassS: Map[String, Double] = Map("tables" -> 6.5, "corpus" -> 5.5)
}
