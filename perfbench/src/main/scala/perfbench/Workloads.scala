package perfbench

/** The declared queries each query workload runs. Both are fixed
  * subsets, so that a pass fits the run length the benchmark allows on
  * a 4-core box; the seed only orders them.
  */
object Workloads {
  val dml: Seq[String] = Seq(
    "l1_merge", "l1_merge_delete", "l19_hidden_part", "l29_sql_update", "l6_exact_dedup",
    "t12_sink_roundtrip")

  val reads: Seq[String] = Seq(
    "a3_approx_distinct", "d1_exact_dedup", "f1_string_funcs", "flagship_q3_topk",
    "s1_csv_scan", "s2_header_repair", "s4_ivf_ann", "tx_bpe_encode")
}
