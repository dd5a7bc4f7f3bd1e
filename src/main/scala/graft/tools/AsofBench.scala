package graft.tools

import org.apache.spark.sql.functions._

/** Micro-benchmark: native sort-merge AsofJoinExec vs the composed
  * union+window as-of join, on a synthetic event stream (many keys, heavy
  * right side — the event-alignment shape).
  * Usage: runMain graft.tools.AsofBench [cores] [leftN] [rightN] [keys] [reps]
  */
object AsofBench {
  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else defaultCores
    val leftN = if (args.length > 1) args(1).toLong else 2000000L
    val rightN = if (args.length > 2) args(2).toLong else 8000000L
    val keys = if (args.length > 3) args(3).toLong else 100000L
    val reps = if (args.length > 4) args(4).toInt else 3
    val payloadWidth = if (args.length > 5) args(5).toInt else 1
    val spark = benchSession(cores)

    // deterministic scramble so neither side arrives key- or time-sorted
    val payloadCols = (0 until payloadWidth).map(i => s"payload$i")
    def mk(n: Long, salt: Long) = spark.range(n).selectExpr(
      Seq(s"pmod(id * 2654435761 + $salt, $keys) AS k",
        s"timestamp_micros(1704067200000000 + pmod(id * 48271 + $salt, 86400) * 1000000) AS t") ++
        payloadCols.zipWithIndex.map { case (c, i) => s"id + $i AS $c" }: _*)
    val left = mk(leftN, 7)
    val right = mk(rightN, 13)

    val composed = graft.operators.AsofJoin.backward(left, right, "k", "t", "t", payloadCols)
    val native = graft.plans.AsofJoinNative.backward(left, right, "k", "t", "t", payloadCols)

    def time(label: String, df: org.apache.spark.sql.DataFrame): Double = {
      // force EVERY output column through the plan: a bare count() lets
      // Catalyst prune the window/payload out of the composed plan entirely
      // (ObjectSerializerPruning-style underweighting, see BENCH.md), which
      // would benchmark a plan no consumer ever runs
      val forced = df.select(bit_xor(xxhash64(df.columns.map(col): _*)).as("h"),
        count(lit(1)).as("n"))
      forced.head() // warm
      val secs = (1 to reps).map { _ =>
        System.gc()
        val t0 = System.nanoTime(); val r = forced.head()
        val s = (System.nanoTime() - t0) / 1e9
        (s, r.getLong(1))
      }
      println(f"$label%-9s best ${secs.map(_._1).min}%.3f s  all ${secs.map(s => f"${s._1}%.2f").mkString(",")}  rows ${secs.head._2}")
      secs.map(_._1).min
    }
    // interleave A/B to cancel box drift
    val c1 = time("composed", composed)
    val n1 = time("native", native)
    val c2 = time("composed", composed)
    val n2 = time("native", native)
    val c = math.min(c1, c2); val nv = math.min(n1, n2)
    println(f"native speedup over composed: ${c / nv}%.2fx (composed $c%.3f s, native $nv%.3f s)")

    // sanity: identical results on a subsample
    val a = composed.filter(col("k") < 50).collect().map(_.toString).sorted.toSeq
    val b = native.filter(col("k") < 50).collect().map(_.toString).sorted.toSeq
    require(a == b, "native and composed outputs diverged")
    println(s"parity check ok on ${a.length} sampled rows")
    spark.stop()
  }
}
