package graftbench

/** Every per-layer metric a traced run reports, with its unit, given
  * the serving mix's keys. A layer that does not run on a workload
  * reports 0. */
object LayerMetrics {
  /** The artifacts the two workloads build: the WmCache chain stages
    * (wm_roundtrip) and the Scratch tables of the serving mix. */
  val Artifacts: Seq[String] = Seq(
    "g_bkt", "g_knn", "g_indeg", "g_carriers", "g_stego",
    "g_ivf_ct", "g_ivf_asg", "g_pq_ct", "g_pq_codes", "g_bq",
    "g_mhsig", "g_mhpairs", "g_jpairs", "g_srcwf")

  def names(mix: Seq[String]): Seq[(String, String)] = Seq(
    "tables.register_s" -> "s",
    "sqlgen.df_s" -> "s",
    "plan.optimize_s" -> "s",
    "plan.physical_s" -> "s",
    "exec.s" -> "s",
    "exec.jobs" -> "count",
    "exec.tasks" -> "count",
    "exec.task_run_s" -> "s",
    "exec.core_util" -> "ratio",
    "exec.input_mb" -> "MB",
    "exec.shuffle_mb" -> "MB",
    "exec.spill_mb" -> "MB",
    "artifact.ensure_s" -> "s",
    "artifact.builds" -> "count",
    "artifact.build_s" -> "s",
    "wm.embed_s" -> "s",
    "wm.detect_s" -> "s",
    "wm.write_s" -> "s",
    "wm.ids_s" -> "s",
    "wm.extract_s" -> "s",
    "wm.decrypt_s" -> "s",
    "wm.bit_errors" -> "bits",
    "trace.op_s" -> "s",
    "jvm.peak_rss_mb" -> "MB") ++
    mix.map(k => s"key.${k}_s" -> "s") ++
    Artifacts.map(a => s"artifact.build_s.$a" -> "s")
}
