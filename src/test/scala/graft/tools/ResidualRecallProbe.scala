package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off sizing probe for the residual-PQ recall sweep: recall@3 of
  * seeded-raw vs trained-residual ADC at probes ∈ {2, 4, 8} (8 = every
  * cell — the fine-quantizer-only comparison) on sf0.01. Informs the
  * `ann_ivfpqt2_recall`/`ann_ivfpq_sweep` configuration; not part of
  * the verified surface. */
object ResidualRecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.llm.{IvfIndex, Pq, Similarity}
    val e = graft.core.Tables.embeddings(spark, sfDir)
      .filter(size(col("embedding")) === 64)
    val q = e.filter(col("vec_id") < 10)
    val cents = IvfIndex.Trained.train(e, "vec_id", "embedding",
      k = 8, iters = 2, dim = 64)
    val pq1 = IvfIndex.ResidualPq.train(cents, e, "vec_id", "embedding",
      m = 8, k = 16, subDim = 8, iters = 1)
    val pq2 = IvfIndex.ResidualPq.train(cents, e, "vec_id", "embedding",
      m = 8, k = 16, subDim = 8, iters = 2)
    val exact = Pq.exactL2TopK(e, q, "vec_id", "embedding", topK = 3)
      .localCheckpoint()
    def mr(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(exact, df, k = 3)
        .agg(avg(col("recall"))).head.getDouble(0)
    for (p <- Seq(2, 4, 8)) {
      def ivf(codec: IvfIndex.Codec) = mr(IvfIndex(cents, codec)
        .topK(e, q, "vec_id", "embedding", k = 3, probes = p))
      val seeded = ivf(IvfIndex.SeededPq(m = 8, k = 16, subDim = 8))
      val resid = ivf(pq1)
      val resid2 = ivf(pq2)
      println(f"PROBE p=$p seeded=$seeded%.3f resid(i1)=$resid%.3f resid(i2)=$resid2%.3f")
    }
    spark.stop()
  }
}
