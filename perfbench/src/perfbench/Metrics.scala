package perfbench

/** Every metric a run reports, with its unit: the end-to-end ones with
  * `--trace 0`, the per-layer ones with `--trace 1`. BENCHMARK.json lists
  * the same names. A per-layer metric of a layer the workload does not
  * run reads 0. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s",
    "docs_per_s" -> "docs/s",
    "out_rows_per_s" -> "rows/s",
    "cpu_s_per_mdoc" -> "s/Mdoc",
    "commit_p50_s" -> "s",
    "setup_s" -> "s")

  /** Layers a Spark job can be attributed to, by workload:
    * kg_bulk — sources.scan … pipeline.manifest;
    * clean_chain — clean.stage0 … clean.manifest and canon.cc;
    * dedup_stream — sigstore.probe, canon.cc, stream.write, sigstore.append. */
  val layers: Seq[String] = Seq(
    "sources.scan", "pipeline.staging", "ner.task", "graph.triples",
    "pipeline.write", "pipeline.manifest",
    "clean.stage0", "clean.stage1", "clean.stage2", "clean.stage3",
    "clean.stage4", "clean.manifest", "canon.cc",
    "sigstore.probe", "sigstore.append", "stream.write")

  val perLayer: Seq[(String, String)] =
    layers.flatMap(l => Seq(s"${l}_s" -> "s", s"${l}_cpu_s" -> "s",
      s"${l}_jobs" -> "count")) ++ Seq(
    "sources.scan_bytes" -> "bytes",
    "pipeline.staging_bytes" -> "bytes",
    "pipeline.write_bytes" -> "bytes",
    "pipeline.jobs_per_bucket" -> "count",
    "pipeline.bucket_fixed_s" -> "s",
    "pipeline.driver_gap_s" -> "s",
    "pipeline.parallel_speedup" -> "x",
    "ner.mentions_out" -> "count",
    "ner.segment_ns_per_doc" -> "ns",
    "ner.tokenize_ns_per_doc" -> "ns",
    "ner.score_ns_per_doc" -> "ns",
    "ner.detect_ns_per_doc" -> "ns",
    "graph.shuffle_bytes" -> "bytes",
    "graph.triples_out" -> "count",
    "clean.stage0_rows" -> "count",
    "clean.stage1_rows" -> "count",
    "clean.stage2_rows" -> "count",
    "clean.stage3_rows" -> "count",
    "ops.lsh_candidates" -> "count",
    "ops.verify_yield" -> "ratio",
    "canon.cc_rounds" -> "count",
    "sigstore.probe_bytes_read" -> "bytes",
    "sigstore.prefixes_read_frac" -> "ratio",
    "sigstore.files" -> "count",
    "stream.trigger_overhead_s" -> "s",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s",
    "jvm.heap_after_gc_peak_mb" -> "MB",
    "trace.overhead" -> "x",
    "trace.unattributed_frac" -> "ratio",
    "commit_tail_s" -> "s",
    "commit_tail_pct" -> "%",
    "commit_samples" -> "count",
    "host.calib_s" -> "s")

  /** The listed metrics, with their units, from measured values. */
  def select(names: Seq[(String, String)],
      values: Map[String, Double]): Map[String, (Double, String)] = {
    val unknown = values.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"unlisted metrics ${unknown.mkString(", ")}")
    names.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }.toMap
  }
}
