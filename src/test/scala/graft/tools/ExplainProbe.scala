package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Scratch probe — dev only: dumps formatted physical plans for the
  * queries whose names match any argument (a regex; a plain name matches
  * itself), as evidence for SCALE.md's plan-shape claims and for
  * plan-identity checks across two trees.
  *
  * With `PLAN_DIR` set, each plan goes to `<PLAN_DIR>/<query>.txt` with
  * the run-specific parts normalized away (expression, lambda, RDD and
  * plan ids, call sites, object hashes, store-path pids), so two trees'
  * dumps compare with a plain `diff -r`. Otherwise plans print to
  * stdout. */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val pats = if (args.nonEmpty) args.toSeq else Seq(
      "q1_pricing", "q3_shipping", "j1_enrichment_join", "a1_rate",
      "dsl_filter_mega", "ann_ivf_topk")
    val names = graft.SparkEntry.queries.keys
      .filter(n => pats.exists(n.matches)).toSeq.sorted
    val dir = sys.env.get("PLAN_DIR")
    dir.foreach(new java.io.File(_).mkdirs())
    names.foreach { n =>
      val plan = graft.SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      dir match {
        case Some(d) => java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"$n.txt"), plan
            .replaceAll("#\\d+", "#N").replaceAll("id=\\d+", "id=N")
            .replaceAll("lambda (\\w+?)_\\d+#", "lambda $1_N#")
            .replaceAll("RDD\\[\\d+\\] at (\\w+) at [\\w.$]+:\\d+", "RDD[N] at $1")
            .replaceAll("@[0-9a-f]+", "@H")
            .replaceAll("_idx_\\d+_[0-9a-f]+", "_idx_P"))
        case None => println(s"===== PLAN $n =====\n$plan")
      }
    }
    spark.stop()
  }
}
