package graft

import org.apache.spark.sql.SparkSession

/** Plan-quality inspector: prints the formatted physical plan of selected
  * SparkEntry queries so pushdown (`PushedFilters`), column pruning
  * (`ReadSchema`), broadcast joins, and whole-stage codegen spans can be
  * verified by eye or grepped in CI. Usage:
  *   runMain graft.Explain [sfDir] [query ...]   (default: headline set)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("s_scan_project", "pipe_route_agg", "j_enrich", "a_terms",
        "a_terms_distributed", "k_topk", "d_minhash_lsh", "d_dup_clusters",
        "sim_ann_brute", "m_merge_execute", "m_delete_execute", "p_otlp_proto",
        "x_curate_e2e")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.byName(n).build(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
