package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import graft.{Bench, SparkEntry}
import graft.pipeline.KgPipeline
import graft.synth.PagesSynth

/** Traced runs of driver-contract queries under graft.Bench's session
  * settings and action (`count()`): one untimed warm run, then `reps` timed
  * runs, each behind a GC fence. One SparkListener attributes every stage to
  * the timed run that submitted it. The JSONL output holds one `query`
  * record per query (rows, per-run seconds, median, stages per run) and one
  * `stage` record per stage and run (tasks, max and median task time,
  * executor run time, GC, shuffle read/write bytes and records, spill).
  *
  * Usage: runMain graft.tools.Trace <sfDir> <reps> <out.jsonl> [--plans <dir>] [name… | all]
  *
  * No names runs Bench.benchQueries plus `kg_pipeline` (KgPipeline.triples
  * at pageCount(sfDir)); `all` runs every SparkEntry.queries key. `--plans`
  * writes each query's explain("formatted") to `<dir>/<name>.txt`; `reps` = 0
  * writes plans only. A query that throws gets an `error` record, never a
  * time, and the run exits with status 1. The pid is printed first, for
  * jstack.
  */
object Trace {

  def main(args: Array[String]): Unit = {
    println(s"pid ${ProcessHandle.current().pid()}")
    val rest = args.drop(3).toVector
    val p = rest.indexOf("--plans")
    if (args.length < 3 || args(1).toIntOption.forall(_ < 0) || (p >= 0 && p + 1 == rest.length)) {
      System.err.println("usage: Trace <sfDir> <reps> <out.jsonl> [--plans <dir>] [name… | all]")
      sys.exit(2)
    }
    val plans = if (p >= 0) Some(rest(p + 1)) else None
    val names = (if (p >= 0) rest.patch(p, Nil, 2) else rest) match {
      case Seq() => Bench.benchQueries :+ "kg_pipeline"
      case Seq("all") => SparkEntry.queries.keys.toVector
      case given => given
    }
    val spark = benchSession(defaultCores)
    val failed = try run(spark, args(0), args(1).toInt, args(2), plans, names)
      finally spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** Traces `names` on `spark`, writing the records to `out`; returns the
    * number of queries that threw. */
  def run(spark: SparkSession, sfDir: String, reps: Int, out: String,
      plans: Option[String], names: Seq[String]): Int = {
    val sc = spark.sparkContext
    val listener = new StageListener
    sc.addSparkListener(listener)
    plans.foreach(d => Files.createDirectories(Paths.get(d)))
    val w = new java.io.PrintWriter(out, "UTF-8")
    def query(name: String): DataFrame =
      if (name == "kg_pipeline") KgPipeline.triples(spark, PagesSynth.pageCount(sfDir)).toDF()
      else SparkEntry.queries.getOrElse(name,
        throw new NoSuchElementException(s"no query named $name"))(spark, sfDir)
    var failed = 0
    try names.foreach { name =>
      var phase = "plan"
      val records = try {
        plans.foreach(d => Files.writeString(Paths.get(d, s"$name.txt"),
          query(name).queryExecution.explainString(ExplainMode.fromString("formatted"))))
        phase = "warm"
        if (reps > 0) query(name).count()
        val runs = (1 to reps).map { rep =>
          phase = s"rep $rep"
          System.gc()
          sc.setLocalProperty(LabelKey, s"$name#$rep")
          val t0 = System.nanoTime()
          val rows = try query(name).count() finally sc.setLocalProperty(LabelKey, null)
          val sec = (System.nanoTime() - t0) / 1e9
          listener.drain(sc)
          (rows, sec, listener.take(s"$name#$rep")
            .map(s => json(Seq("record" -> "stage", "query" -> name, "rep" -> rep) ++ s)))
        }
        if (reps == 0) Vector.empty else {
          val secs = runs.map(_._2).sorted
          val median = (secs((reps - 1) / 2) + secs(reps / 2)) / 2
          println(f"$name%-32s median $median%.3f s  rows ${runs.last._1}  stages ${runs.last._3.size}")
          json(Seq("record" -> "query", "query" -> name, "rows" -> runs.last._1,
            "seconds" -> runs.map(_._2), "median_s" -> median,
            "stages" -> runs.map(_._3.size))) +: runs.flatMap(_._3)
        }
      } catch {
        case NonFatal(e) =>
          failed += 1
          println(s"$name ERROR in $phase: $e")
          Vector(json(Seq("record" -> "error", "query" -> name, "phase" -> phase, "error" -> e.toString)))
      }
      records.foreach(w.println)
      w.flush()
    } finally {
      w.close()
      sc.removeSparkListener(listener)
    }
    failed
  }

  private val mapper = new ObjectMapper()

  private def json(fields: Seq[(String, Any)]): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v match { case s: Seq[_] => s.asJava; case x => x }) }
    mapper.writeValueAsString(m)
  }

  private val LabelKey = "graft.trace.label"
  private val Fence = "graft.trace.fence"

  /** One record per completed stage of every job submitted under a label
    * (the `LabelKey` local property); unlabelled jobs are ignored. */
  private final class StageListener extends SparkListener {
    private val stageLabel = mutable.HashMap[Int, String]()
    private val taskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
    private val stages = mutable.ArrayBuffer[(String, Int, Seq[(String, Any)])]()
    private var fences = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(LabelKey))) match {
        case Some(Fence) => fences += 1
        case Some(label) => e.stageIds.foreach(stageLabel(_) = label)
        case None => ()
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageLabel.contains(e.stageId))
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val (si, m) = (e.stageInfo, e.stageInfo.taskMetrics)
      val ms = taskMs.remove(si.stageId).toVector.flatten.sorted
      stageLabel.get(si.stageId).foreach { label =>
        stages += ((label, si.stageId, Seq("stage" -> si.stageId,
          "name" -> si.name.takeWhile(_ != '\n'), "tasks" -> ms.size,
          "task_ms_max" -> ms.lastOption.getOrElse(0L), "task_ms_median" -> ms.lift(ms.size / 2).getOrElse(0L),
          "executor_run_ms" -> m.executorRunTime, "gc_ms" -> m.jvmGCTime,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_read_records" -> m.shuffleReadMetrics.recordsRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))))
      }
    }

    /** Runs a one-task job and waits until its start reaches this listener.
      * The bus delivers in order, and a finished action has posted all of its
      * events, so every event of the work before the fence has then arrived. */
    def drain(sc: SparkContext): Unit = {
      val target = synchronized(fences) + 1
      sc.setLocalProperty(LabelKey, Fence)
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(LabelKey, null)
      val deadline = System.nanoTime() + 30000000000L
      while (synchronized(fences) < target && System.nanoTime() < deadline) Thread.sleep(5)
    }

    /** Removes and returns the stage records collected under `label`, in stage-id order. */
    def take(label: String): Vector[Seq[(String, Any)]] = synchronized {
      val (mine, others) = stages.partition(_._1 == label)
      stages.clear(); stages ++= others
      mine.sortBy(_._2).map(_._3).toVector
    }
  }
}
