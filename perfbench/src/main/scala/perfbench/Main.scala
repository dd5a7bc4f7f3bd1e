package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** One workload: set-up (untimed), a closed loop of timed operations, the
  * traced layer split, and the end-of-run correctness checks. */
trait Workload {
  /** Warm-up and anything built before the first timed operation. */
  def setup(r: Run): Unit
  /** Timed operations until `seconds` of operation time have run.
    * Returns the headline latency samples (for the tracing overhead). */
  def loop(r: Run, seconds: Double): Seq[Double]
  /** Traced only: call the layers one at a time, materializing between. */
  def split(r: Run): Unit
  /** Checks that need the whole run. */
  def finish(r: Run): Unit
}

/** JVM side of the benchmark. run.py generates the inputs, starts this
  * main once per workload and turns its result file into the result line.
  *
  * Args: workload manifest.json result.json seconds trace(0|1) cpus workdir
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, manifestPath, resultPath, secondsS, traceS, cpus, work) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // graft.Bench's session settings, with scratch kept in the work
    // directory
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val manifest = Json.read(manifestPath)
    val tracer = new Tracer(enabled = false, runId = s"$workload-${ProcessHandle.current().pid()}-$jvmStartMs")
    val listener = new EngineListener
    val r = new Run(spark, tracer, if (traced) Some(listener) else None)
    val w: Workload = workload match {
      case "web_ingest" => new WebIngest(manifest, work, cpus.toInt)
      case "contract_mix" => new ContractMix(manifest, work)
      case "cityjson_convert" => new CityJsonConvert(manifest, cpus.toInt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    w.setup(r)
    val setupS = (System.nanoTime() - t0) / 1e9
    // drain set-up garbage so its collection does not land in a timed op
    System.gc()
    r.metrics("setup.jvm_s") = bootS
    r.metrics("setup.workload_s") = setupS

    if (!traced) w.loop(r, seconds)
    else {
      // same process, same inputs: a quarter of the time untraced, half
      // traced, a quarter untraced again, so the untraced samples bracket
      // the traced ones and a warm-up trend cancels out of the difference
      // of the headline medians, which is the tracing overhead
      val plain1 = w.loop(r, seconds / 4)
      r.metrics.filterInPlace((k, _) => k.startsWith("setup."))
      r.report.clear()
      spark.sparkContext.addSparkListener(listener)
      tracer.enabled = true
      val withTrace = w.loop(r, seconds / 2)
      tracer.enabled = false
      spark.sparkContext.removeSparkListener(listener)
      listener.settle()
      val tracedMetrics = r.metrics.clone()
      val tracedReport = r.report.clone()
      val plain = plain1 ++ w.loop(r, seconds / 4)
      r.metrics.clear(); r.metrics ++= tracedMetrics
      r.report.clear(); r.report ++= tracedReport
      r.metrics ++= listener.totals
      if (plain.nonEmpty && withTrace.nonEmpty) {
        val (a, b) = (Stats.median(plain), Stats.median(withTrace))
        r.metrics("trace.untraced_op_p50_s") = a
        r.metrics("trace.traced_op_p50_s") = b
        r.metrics("trace.overhead_s") = b - a
        r.report += f"tracing overhead: traced op p50 $b%.4f s - untraced $a%.4f s = ${b - a}%+.4f s (${(b - a) / a * 100}%+.1f%%)"
      }
      spark.sparkContext.addSparkListener(listener)
      tracer.enabled = true
      w.split(r)
      tracer.enabled = false
      r.annotateEngine()
      spark.sparkContext.removeSparkListener(listener)
      val spansPath = resultPath.stripSuffix(".json") + ".spans.jsonl"
      tracer.writeJsonl(spansPath, t0)
      r.report += s"spans: ${tracer.spans.size} written to $spansPath"
    }
    val tf = System.nanoTime()
    w.finish(r)
    System.err.println(f"[perfbench] phases: boot $bootS%.2f setup $setupS%.2f loop+split ${(tf - t0) / 1e9 - setupS}%.2f finish ${(System.nanoTime() - tf) / 1e9}%.2f s")

    val checks = r.checks.map { case (n, ok, d) => Map[String, Any]("name" -> n, "ok" -> ok, "detail" -> d) }
    val out = Map[String, Any](
      "attempted" -> r.attempted, "failed" -> r.failed, "errors" -> r.errors.take(20).toSeq,
      "checks" -> checks.toSeq, "metrics" -> r.metrics.toMap, "report" -> r.report.toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(resultPath), Json.obj(out) + "\n")
    spark.stop()
  }
}

/** Manifest helpers. */
object M {
  def longs(n: JsonNode): Vector[Long] = {
    val b = Vector.newBuilder[Long]
    n.elements().forEachRemaining(e => b += e.asLong())
    b.result()
  }
  def nodes(n: JsonNode): Vector[JsonNode] = {
    val b = Vector.newBuilder[JsonNode]
    n.elements().forEachRemaining(e => b += e)
    b.result()
  }
}
