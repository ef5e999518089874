package graftbench

/** The per-layer metric catalogue. Span names are `<module>.<call>`,
  * after the graft module whose public function the span wraps. The
  * traced run reports five figures per span, every count below, and
  * the tracing overhead — for every workload, with 0 for a layer the
  * workload never enters. */
object Layers {
  val spans: Seq[String] = Seq(
    // cdc_fresh_reads: the write path
    "ingest.apply", "core.compact", "core.clean", "interop.sync_delta",
    // cdc_fresh_reads: the reads after each batch
    "sql.point_lookup", "sql.range_scan", "sql.agg",
    "core.read_realtime", "core.read_incremental", "core.time_travel",
    // curation_pipeline
    "operators.quality_filter", "operators.exact_dedup",
    "operators.minhash_lsh", "operators.components", "operators.keep_best",
    "operators.decontaminate", "operators.tokenize", "core.bulk_insert",
    "core.vector_index_refresh", "sql.vector_search")

  val counts: Seq[(String, String)] = Seq(
    "core.commits" -> "count",
    "core.files_added" -> "count",
    "core.bytes_written_mb" -> "MB",
    "core.bytes_rewritten_mb" -> "MB",
    "core.log_parses" -> "count",
    "core.write_amp" -> "ratio",
    "core.space_amp" -> "ratio",
    "sql.point_lookup.rows_examined_per_row" -> "ratio",
    "sql.range_scan.rows_examined_per_row" -> "ratio",
    "sql.agg.rows_examined_per_row" -> "ratio",
    "sql.range_scan.bytes_read_ratio" -> "ratio",
    "sql.vector_search.recall_at_10" -> "ratio",
    "core.delta_files_live" -> "count",
    "operators.minhash_lsh.pairs_out" -> "count",
    "operators.minhash_lsh.near_dup_recall" -> "ratio",
    "operators.exact_dedup.removed" -> "count")

  /** Counts derived from task metrics of the SQL spans and the rows or
    * bytes the workload noted for them. */
  def spanCounts(tr: Tracer): Map[String, Double] = {
    def records(span: String) =
      tr.recorded.filter(_.name == span).flatMap(s => tr.totalsOf(s.id)).map(_.recordsRead).sum.toDouble
    def bytes(span: String) =
      tr.recorded.filter(_.name == span).flatMap(s => tr.totalsOf(s.id)).map(_.bytesRead).sum.toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Seq("sql.point_lookup", "sql.range_scan", "sql.agg").map { s =>
      s"$s.rows_examined_per_row" -> ratio(records(s), tr.noted(s"$s.rows_returned"))
    }.toMap + ("sql.range_scan.bytes_read_ratio" ->
      ratio(bytes("sql.range_scan"), tr.noted("sql.range_scan.live_bytes")))
  }
}
