package perfbench

/** Names and units of every metric the benchmark prints. */
object Metrics {

  final case class Spec(name: String, unit: String)

  val EndToEnd: Seq[Spec] = Seq(
    Spec("setup_s", "s"),
    Spec("e2e_s", "s"),
    Spec("pages_per_s", "pages/s"),
    Spec("pairs_per_s", "pairs/s"),
    Spec("f1", "ratio"),
    Spec("resume_s", "s"),
    Spec("write_bytes_per_page", "B/page"))

  /** Layers in call order; each is one public call of the engine. */
  val Layers: Seq[String] = Seq("standardize", "signature", "block_keys", "candidates",
    "score", "cc", "golden", "sink", "commit", "resume", "microbatch")

  val PerLayerBase: Seq[Spec] = Seq(
    Spec("wall_s", "s"), Spec("task_cpu_s", "s"), Spec("busy_frac", "ratio"),
    Spec("driver_only_s", "s"), Spec("jobs", "count"), Spec("shuffle_mb", "MB"),
    Spec("spill_mb", "MB"), Spec("rows_out", "rows"))

  val PerLayerExtra: Seq[Spec] = Seq(
    Spec("candidates.max_block", "rows"), Spec("candidates.salted_blocks", "count"),
    Spec("score.edge_frac", "ratio"),
    Spec("cc.rounds", "count"), Spec("cc.edges", "count"),
    Spec("commit.bytes_mb", "MB"), Spec("commit.files", "count"),
    Spec("commit.partition_dirs", "count"),
    Spec("microbatch.history_rows_scanned", "rows"), Spec("microbatch.pairs_scored", "pairs"),
    Spec("microbatch.state_rows_written", "rows"),
    Spec("microbatch.log_window_snapshots", "count"), Spec("microbatch.store_files", "count"))

  val TraceTotals: Seq[Spec] = Seq(
    Spec("traced_e2e_s", "s"), Spec("untraced_s", "s"), Spec("trace_overhead_s", "s"))

  val PerLayer: Seq[Spec] =
    Layers.flatMap(l => PerLayerBase.map(b => Spec(s"$l.${b.name}", b.unit))) ++
      PerLayerExtra ++ TraceTotals
}
