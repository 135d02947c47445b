package perfbench

/** The benchmark's workloads: the queries of one round, in catalog order
  * (the seed permutes that order per round), and whether the Shared memo
  * is cleared before every round. run.py maps each workload to its corpus.
  */
final case class Workload(name: String, queries: Seq[String], cold: Boolean)

object Workloads {
  val all: Seq[Workload] = Seq(
    // The six gridmix2 job shapes (streamSort, javaSort, webdataScan,
    // combiner, monsterQuery, webdataSort) on the ScaleUp corpus: executor
    // and shuffle do most of the work.
    Workload("gridmix", Seq("sort_total_order", "keyfield_sort", "field_selection",
      "wordcount", "monster_query", "secondary_sort"), cold = false),
    // Light queries from across the catalog at the smallest scale (three
    // IO round-trips among them add writes), plus the three graph and
    // dedup queries that build a Shared memo (co-purchase edges, weighted
    // edges, simhash fingerprints), with the memo cleared before every
    // round: table open, construction, planning, job scheduling and memo
    // builds dominate, compute barely shows.
    Workload("catalog_cold", Seq("q4_order_priority", "grouping_sets_agg",
      "q13_order_distribution", "bzip2_roundtrip", "kv_text_separator",
      "multiple_outputs_write", "mojibake_scan", "ab_test", "bitmap_distinct",
      "bfs_hops", "sssp_weighted", "dedup_simhash"), cold = true),
  )

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name'"))
}
