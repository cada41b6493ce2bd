package perfbench

/** Every metric a run can print, with its unit. Untraced runs print all of
  * [[EndToEnd]]; traced runs print all of [[PerLayer]], with 0 for a layer
  * that is not on the workload's path. `BENCHMARK.json` lists the same
  * names, and the launcher refuses a result that differs. */
object Catalogue {
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s")

  val RunPhases: Seq[String] = Seq("run.lineage_read_s", "run.pages_write_s",
    "run.chunks_write_s", "run.metrics_s", "run.metrics_write_s", "run.lineage_write_s")

  val PerLayer: Seq[(String, String)] = Seq(
    "scan.s" -> "s", "extract.s" -> "s",
    "extract.dom_us_per_turn" -> "us", "extract.chunk_us_per_turn" -> "us",
    "extract.flatten_us_per_turn" -> "us", "extract.row_us_per_turn" -> "us",
    "extract.bytes_out_per_byte_in" -> "ratio", "extract.blocks_dropped_share" -> "ratio",
    "window.s" -> "s", "window.shuffle_bytes" -> "bytes", "window.task_skew" -> "ratio",
    "run.job_s" -> "s") ++ RunPhases.map(_ -> "s") ++ Seq(
    "run.pages_write_self_s" -> "s", "run.driver_gap_s" -> "s",
    "run.jobs" -> "count", "run.tasks" -> "count", "run.files_written" -> "count",
    "run.bytes_written" -> "bytes", "run.cache_bytes" -> "bytes", "run.spill_bytes" -> "bytes",
    "run.gc_s" -> "s", "run.stored_bytes_ratio" -> "ratio", "run.turns_per_s" -> "1/s",
    "run.scaling_eff" -> "ratio") ++
    QueryWorkload.Keys.map(k => s"q.$k.s" -> "s") ++
    Seq("catalyst.plan_s" -> "s", "catalyst.exec_s" -> "s", "query.jobs" -> "count",
      "query.shuffle_bytes" -> "bytes", "query.spill_bytes" -> "bytes",
      "driver.peak_heap_mb" -> "MB", "trace.overhead_pct" -> "%")

  private val units = (EndToEnd ++ PerLayer).toMap
  def unit(name: String): String =
    units.getOrElse(name, throw new IllegalArgumentException(s"unlisted metric $name"))
}
