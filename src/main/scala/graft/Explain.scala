package graft

/** Plan-audit utility: prints `explain("formatted")` for selected catalog
  * queries so scan pruning (PushedFilters/ReadSchema), join strategies
  * (BroadcastHashJoin vs SortMergeJoin) and WholeStageCodegen spans can be
  * inspected and recorded in SCALE.md.
  *
  * Usage: `runMain graft.Explain [queryName ...]` (default: a spread of
  * representative shapes) with SPARK_GRAFT_SF_DIR (default sf0.01). Plans
  * come from [[Graft.session]], the conf `Bench` times.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("s1_scan_prune", "j2_broadcast_dim", "j1_orders_per_nation",
        "o2_topk_customers", "q1_pricing_summary", "v_lsh_ann")
    val spark = Graft.session()
    // SPARK_GRAFT_PLAN_DIR: also write each plan to <dir>/<name><suffix>.txt
    // (suffix from SPARK_GRAFT_PLAN_SUFFIX, e.g. "_after") so the committed
    // plans/r16/ evidence files are produced by the same harness that
    // prints them.
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    names.foreach { n =>
      println(s"===== $n =====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      planDir.foreach { d =>
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, s"$n$suffix.txt"), txt.getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
