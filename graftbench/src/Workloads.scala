package graftbench

/** The rows of the query_corpus workload, as (row, operator module).
  *
  * Each pooled kernel is built by exactly one row, in the cold pass,
  * and served in the warm passes: ngram-jaccard-pairs and
  * dup-clusters-exact (q_dup_clusters), simhash-pairs
  * (q_simhash_pairs), substr-dedup-spans and substr-fpset
  * (q_substr_scrub). No two rows share a kernel, so the seed-chosen
  * row order does not decide which row pays a build. q_stream_dedup is
  * an EventStream twin, mostly micro-batch overhead. Coverage is cut to
  * these five kernels to fit the run budget; NOTES.md lists the kernel
  * families left out. */
object Workloads {
  val corpus: Seq[(String, String)] = Seq(
    "q_dup_clusters" -> "dedup",
    "q_simhash_pairs" -> "dedup",
    "q_substr_scrub" -> "text",
    "q_stream_dedup" -> "stream")
}
