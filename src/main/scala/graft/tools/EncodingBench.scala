package graft.tools

import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import graft.pipeline.KgPipeline

/** Quantifies the bytes-per-triple reduction of the dictionary-encoded
  * pipeline (KgPipeline.encodedTriples) vs the string pipeline
  * (KgPipeline.triples), measured as the EXACT Tungsten bytes of the
  * UnsafeRow stream each pipeline emits (`queryExecution.toRdd`, summing
  * `UnsafeRow.getSizeInBytes`) — NOT the columnar cache, whose
  * dictionary/RLE compression would hide exactly the string cost being
  * measured, and NOT SizeEstimator, which adds ~80 B of JVM object
  * overhead per row. bytes/rows is the per-triple footprint every
  * downstream shuffle, cache, or in-memory pass pays at the encoder
  * boundary.
  *
  * Usage: runMain graft.tools.EncodingBench [pages] [cores]
  */
object EncodingBench {

  def main(args: Array[String]): Unit = {
    val pages = if (args.nonEmpty) args(0).toLong else 500000L
    val cores = if (args.length > 1) args(1).toInt else defaultCores

    val spark = benchSession(cores)

    def measure(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      df.queryExecution.toRdd.mapPartitions { it =>
        var rows = 0L; var bytes = 0L
        it.foreach { r => rows += 1; bytes += r.asInstanceOf[UnsafeRow].getSizeInBytes }
        Iterator((rows, bytes))
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))

    val (decRows, decBytes) = measure(KgPipeline.triples(spark, pages).toDF())
    val (encRows, encBytes) = measure(KgPipeline.encodedTriples(spark, pages).toDF())
    val decPer = decBytes.toDouble / decRows
    val encPer = encBytes.toDouble / encRows
    println(f"""{"encoding_bench":true,"pages":$pages,"decoded_rows":$decRows,"decoded_bytes":$decBytes,"decoded_bytes_per_triple":$decPer%.1f,"encoded_rows":$encRows,"encoded_bytes":$encBytes,"encoded_bytes_per_triple":$encPer%.1f,"reduction_x":${decPer / encPer}%.2f}""")
    spark.stop()
  }
}
