package graft.tools

import graft.pipeline.KgPipeline
import graft.synth.PagesSynth

/** One scaling-rule measurement (BASELINE.json north rule: throughput
  * scaling efficiency >= 0.8 from N to 4N executors; sandbox proxy = the
  * same job at local[N] vs local[4N] on identical input).
  *
  * Runs the full KG pipeline once at the requested parallelism and prints
  * one JSON line. Each parallelism level gets its OWN JVM (invoke this main
  * twice) so measurements do not share session/GC state; the efficiency is
  * computed by the caller. The corpus is scaled up (default 10x the bench
  * corpus) so the job runs long enough that fixed scheduling overhead does
  * not swamp the scaling signal.
  *
  * Usage: runMain graft.tools.ScalingBench [cores] [sfDir] [pagesMult] [nReps] [mode]
  * mode:
  *  - "decoded" (default): inline-synthesized corpus → string triples
  *  - "encoded": inline corpus → dictionary-encoded triples (see
  *    KgPipeline.encodedTriples for the bytes/row story)
  *  - "stored": pages read from a MATERIALIZED parquet table (written once
  *    to /tmp and reused across invocations) → string triples. This is the
  *    north rule's actual job shape — the input is an Iceberg-style pages
  *    table, not an in-process generator — and it removes the generator's
  *    allocation cost from the measurement (synthesis alone scaled ~1.4x
  *    over 4x cores on a shared-DRAM box, polluting the inline modes'
  *    high-core efficiency).
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else defaultCores
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mult = if (args.length > 2) args(2).toInt else 10
    val nReps = if (args.length > 3) args(3).toInt else 2
    val mode = if (args.length > 4) args(4) else "decoded"
    val pages = PagesSynth.pageCount(sfDir) * mult

    val spark = benchSession(cores)

    // stored mode: materialize the pages table once, content-addressed by
    // (count, generator fingerprint) — the fingerprint (a page-0 content
    // hash) keeps a stale /tmp table from an older generator out of the
    // measurement; reuse across invocations means every parallelism level
    // reads IDENTICAL input files
    def pagesDir(n: Long): String = {
      val fp = java.lang.Long.toHexString(
        java.util.Arrays.hashCode(PagesSynth.pageAt(0, n).page.html).toLong & 0xffffffffL)
      s"/tmp/graft_pages_${n}_$fp"
    }
    def pagesTable(n: Long): org.apache.spark.sql.Dataset[graft.model.Page] = {
      import spark.implicits._
      val dir = pagesDir(n)
      if (!new java.io.File(s"$dir/_SUCCESS").exists())
        PagesSynth.pages(spark, n).write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).as[graft.model.Page]
    }

    def job(n: Long): Long = mode match {
      case "encoded" =>
        KgPipeline.encodedTriples(spark, n).count() + KgPipeline.ontologyTriples(spark).count()
      case "stored" =>
        KgPipeline.pageTriples(KgPipeline.extracted(pagesTable(n)), PagesSynth.aliasMap)
          .count() + KgPipeline.ontologyTriples(spark).count()
      case _ => KgPipeline.triples(spark, n).count()
    }

    // stored mode materializes the FULL-size table before any timing: the
    // one-time parquet write must never land inside the first timed rep
    if (mode == "stored") pagesTable(pages).count()

    // warm-up: JIT + codegen at the same parallelism, untimed — must be big
    // enough that C2 compilation of the whole chain completes before timing
    job(50000)

    // timed reps; report the best (JIT/GC noise is one-sided). The first rep
    // pays one-time heap commit; a GC fence between reps keeps collections
    // of the previous rep's garbage out of the next timing.
    val reps = (1 to nReps).map { _ =>
      System.gc(); Thread.sleep(1000)
      val t0 = System.nanoTime()
      val triples = job(pages)
      (triples, (System.nanoTime() - t0) / 1e9)
    }
    val (triples, sec) = reps.minBy(_._2)
    val tps = (triples / sec).toLong
    val allSecs = reps.map(r => f"${r._2}%.2f").mkString("[", ",", "]")
    println(f"""{"scaling_point":true,"cores":$cores,"mode":"$mode","pages":$pages,"triples":$triples,"sec":$sec%.2f,"all_secs":$allSecs,"triples_per_sec":$tps}""")
    spark.stop()
  }
}
