package perfbench

/** The per-layer metrics a traced run reports, with their units. A
  * layer the workload does not exercise reads 0. */
object Layers {
  private val seconds = Seq(
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s", "driver.no_job_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s") ++
    Seq("dedup", "ann", "text", "sketch", "stats", "events", "multimodal", "curation", "sources")
      .map(f => s"ops.${f}_s") ++
    OpsPipeline.Queries.map(q => s"ops.${q.takeWhile(_ != '_')}_s") ++
    Seq("model.collect_s", "gen.generate_s", "lab.analyze_s", "lab.light_s", "lab.heavy_s",
      "ir.parse_s", "encode.encode_s", "estimate.featurize_s", "estimate.gbt_fit_s",
      "estimate.predict_s") ++
    EstimatorBench.Models.map(m => s"score.${m}_s") ++
    Seq("host.calib_s", "sql_catalog_s", "train_s", "round_s")
  private val counts = Seq("catalyst.executions", "spark.jobs", "spark.stages", "spark.tasks")
  private val mb = Seq("spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.input_mb", "spark.peak_task_mem_mb", "cache.leaked_mb")
  private val rates = Seq("lab_labels_per_s", "parse_qps", "encode_qps", "score_qps")

  val units: Map[String, String] =
    (seconds.map(_ -> "s") ++ counts.map(_ -> "count") ++ mb.map(_ -> "MB") ++
      rates.map(_ -> "1/s") :+ ("trace.overhead_pct" -> "%")).toMap
  val names: Seq[String] = units.keys.toSeq.sorted
}
