package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Percentiles over latency samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile with at least ten samples above it, and
    * its value; None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    val pct = (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n) >= 10)
    pct.map(p => (p, quantile(xs, p / 100.0)))
  }
}

/** One span: a timed call into a layer. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, Any])

/** Spans kept in memory and written as JSONL when the run ends. Disabled,
  * `span` is a plain call. */
final class Tracer(var enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Long]()
  val spans = mutable.ArrayBuffer[Span]()

  def span[A](name: String, attrs: Map[String, Any] = Map.empty)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, t0, System.nanoTime(), attrs)
      }
    }

  /** Attach attributes to the most recent span named `name`. */
  def annotate(name: String, attrs: Map[String, Any]): Unit =
    spans.lastIndexWhere(_.name == name) match {
      case -1 => ()
      case i => spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
    }

  def durations(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def writeJsonl(path: String, epochNs: Long): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      val base = Map[String, Any]("run_id" -> runId, "span_id" -> s.id, "parent_id" -> s.parent,
        "name" -> s.name, "start_s" -> (s.startNs - epochNs) / 1e9, "end_s" -> (s.endNs - epochNs) / 1e9)
      w.println(Json.obj(base ++ s.attrs))
    } finally w.close()
  }
}

/** Per-task and per-stage figures from Spark's listener bus, grouped by
  * the top-level operation that ran them (a local property set around each
  * operation). Registered only in the traced run. */
final class EngineListener extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var singleTaskStages = 0L
    var jobMs = 0L; var runMs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var shuffleRecords = 0L; var spill = 0L
    val taskSecs = mutable.ArrayBuffer[Double]()
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "single_task_stages" -> singleTaskStages, "job_s" -> jobMs / 1e3,
      "executor_run_s" -> runMs / 1e3,
      "gc_s" -> gcMs / 1e3, "shuffle_write_bytes" -> shuffleBytes,
      "shuffle_records" -> shuffleRecords, "spill_bytes" -> spill,
      "task_s_max" -> (if (taskSecs.isEmpty) 0.0 else taskSecs.max))
  }
  val byOp = mutable.LinkedHashMap[String, Agg]()
  private val stageOp = mutable.HashMap[Int, String]()
  private val jobOp = mutable.HashMap[Int, (String, Long)]()
  private val jobsOpen = new AtomicLong(0)

  private def agg(op: String): Agg = byOp.getOrElseUpdate(op, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsOpen.incrementAndGet()
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(EngineListener.OpKey))).getOrElse("(none)")
    e.stageIds.foreach(stageOp(_) = op)
    jobOp(e.jobId) = (op, e.time)
    agg(op).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) => agg(op).jobMs += e.time - t0 }
    jobsOpen.decrementAndGet()
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = agg(stageOp.getOrElse(e.stageInfo.stageId, "(none)"))
    a.stages += 1
    if (e.stageInfo.numTasks == 1) a.singleTaskStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageOp.getOrElse(e.stageId, "(none)"))
    a.tasks += 1
    a.taskSecs += e.taskInfo.duration / 1e3
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Block until every started job has ended and the bus has had time to
    * deliver its task events (bounded wait). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (jobsOpen.get() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  /** Totals over every operation, as `spark.*` per-layer metrics. */
  def totals: Map[String, Double] = synchronized {
    val all = byOp.collect { case (op, a) if op.contains('#') && !op.startsWith("split:") => a }
    val secs = all.flatMap(_.taskSecs).toSeq
    Map(
      "spark.jobs" -> all.map(_.jobs).sum.toDouble,
      "spark.stages" -> all.map(_.stages).sum.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.task_s.p50" -> (if (secs.isEmpty) 0.0 else Stats.median(secs)),
      "spark.task_s.max" -> (if (secs.isEmpty) 0.0 else secs.max),
      "spark.executor_run_s" -> all.map(_.runMs).sum / 1e3,
      "spark.gc_s" -> all.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> all.map(_.shuffleBytes).sum.toDouble,
      "spark.shuffle_records" -> all.map(_.shuffleRecords).sum.toDouble,
      "spark.spill_bytes" -> all.map(_.spill).sum.toDouble,
      "spark.single_task_stages" -> all.map(_.singleTaskStages).sum.toDouble)
  }
}

object EngineListener {
  val OpKey = "perfbench.op"
}

/** What one workload run measured and checked. `attempted` and `failed`
  * count timed operations; a failed one adds no latency sample. */
final class Run(val spark: SparkSession, val tracer: Tracer, listener: Option[EngineListener]) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  val report = mutable.ArrayBuffer[String]()
  private var opSeq = 0L

  /** Time one operation. An exception counts as failed and yields None. */
  def op[A](kind: String, attrs: Map[String, Any] = Map.empty)(body: => A): Option[(A, Double)] = {
    attempted += 1
    opSeq += 1
    val label = s"$kind#$opSeq"
    spark.sparkContext.setLocalProperty(EngineListener.OpKey, label)
    val t0 = System.nanoTime()
    try {
      val a = tracer.span(kind, attrs + ("op" -> label))(body)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $label $secs%.4f s")
      Some((a, secs))
    } catch {
      case e: Throwable =>
        failed += 1
        errors += s"$kind: $e"
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    } finally spark.sparkContext.setLocalProperty(EngineListener.OpKey, null)
  }

  /** One layer call of the traced split: a span plus its own engine label;
    * failures propagate (the split runs only after the timed loop). */
  def layer[A](name: String)(body: => A): A = {
    opSeq += 1
    spark.sparkContext.setLocalProperty(EngineListener.OpKey, s"split:$name#$opSeq")
    try tracer.span(name, Map("op" -> s"split:$name#$opSeq"))(body)
    finally spark.sparkContext.setLocalProperty(EngineListener.OpKey, null)
  }

  /** Correctness check; a false one fails the whole run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    checks += ((name, ok, d))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name $d")
  }

  /** Per-op engine figures attached to the op spans. */
  def annotateEngine(): Unit = listener.foreach { l =>
    l.settle()
    val byOp = l.byOp
    tracer.spans.indices.foreach { i =>
      val s = tracer.spans(i)
      s.attrs.get("op").collect { case op: String => byOp.get(op) }.flatten.foreach { a =>
        tracer.spans(i) = s.copy(attrs = s.attrs ++ a.toMap.map { case (k, v) => s"spark.$k" -> v })
      }
    }
  }
}

/** Minimal JSON: manifest reading through Jackson, writing by hand. */
object Json {
  private val mapper = new ObjectMapper()
  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
  def parse(s: String): JsonNode = mapper.readTree(s)

  def str(s: String): String = mapper.writeValueAsString(s)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(m: collection.Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
