package graft.tools

import org.apache.spark.sql.functions._

/** Micro-benchmark: native CosineExpr vs the aggregate(zip_with(...))
  * higher-order formulation over an n×n self-join of real embedding rows.
  * Usage: runMain graft.tools.CosineBench [cores] [sfDir] [headN] [reps]
  */
object CosineBench {
  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else defaultCores
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val headN = if (args.length > 2) args(2).toInt else 2000
    val reps = if (args.length > 3) args(3).toInt else 3
    val spark = benchSession(cores)
    graft.functions.CosineExpr.register(spark)

    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < headN).localCheckpoint()
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val joined = a.join(b, col("va") < col("vb"))

    val hof = joined.filter(
      (expr("aggregate(zip_with(ea, eb, (x, y) -> cast(x as double) * y), 0D, (acc, v) -> acc + v)") /
        sqrt(expr("aggregate(ea, 0D, (acc, x) -> acc + cast(x as double) * x)") *
          expr("aggregate(eb, 0D, (acc, x) -> acc + cast(x as double) * x)"))) >= 0.357)
    val native = joined.filter(
      graft.functions.CosineExpr.graft_cosine(col("ea"), col("eb")) >= 0.357)

    def time(label: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.count() // warm
      val secs = (1 to reps).map { _ =>
        System.gc()
        val t0 = System.nanoTime(); val n = df.count()
        val s = (System.nanoTime() - t0) / 1e9
        (s, n)
      }
      println(f"$label%-8s best ${secs.map(_._1).min}%.3f s  all ${secs.map(s => f"${s._1}%.2f").mkString(",")}  rows ${secs.head._2}")
    }
    time("hof", hof)
    time("native", native)
    spark.stop()
  }
}
