package perfbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.dedup.Dedup

/** contract_mix: passes over a fixed set of SparkEntry contract queries in a
  * seeded order per pass, over seed-generated tables. The untimed first
  * pass (which also warms the JIT) dumps each result and the aux inputs its
  * oracle reads, the way graft.Verify does, for run.py's DuckDB compare. */
final class ContractMix(m: JsonNode, work: String) extends Workload {
  private val sfDir = m.get("sf_dir").asText
  private val passes = M.nodes(m.get("passes")).map(p => M.nodes(p).map(_.asText))
  private val names = passes.head.sorted
  private val dumpDir = s"$work/verify"
  private val rowsOf = mutable.Map[String, Long]()
  private var next = 0

  /** Run one query to completion (noop sink), counting its rows inline. */
  private def runQuery(spark: SparkSession, name: String): Long = {
    val obs = Observation()
    SparkEntry.queries(name)(spark, sfDir).observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  def setup(r: Run): Unit = {
    val spark = r.spark
    passes.head.foreach { q =>
      val obs = Observation()
      SparkEntry.queries(q)(spark, sfDir).observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(s"$dumpDir/$q")
      rowsOf(q) = obs.get("rows").asInstanceOf[Long]
    }
    val abs = new java.io.File(dumpDir).getAbsolutePath
    val sql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => k -> v.replace("{OUT}", abs).replace("{SF}", new java.io.File(sfDir).getName) }
    sql.values.flatMap(s => "aux_[a-z_]+".r.findAllIn(s)).toSet.foreach { (a: String) =>
      SparkEntry.auxDumps(a)(spark, sfDir).write.mode("overwrite").parquet(s"$dumpDir/$a")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dumpDir/oracle_sql.json"), Json.obj(sql))
  }

  def loop(r: Run, seconds: Double): Seq[Double] = {
    val passS = mutable.ArrayBuffer[Double]()
    val perQuery = mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    var spent = 0.0
    while (spent < seconds) {
      require(next < passes.size, "manifest has too few passes for the run length")
      val order = passes(next)
      next += 1
      val secs = order.flatMap { q =>
        // fence, as graft.Bench does: the previous query's garbage stays
        // out of this query's time
        System.gc()
        r.op("query", Map("query" -> q))(runQuery(r.spark, q)).map { case (rows, s) =>
          r.check(s"contract: $q returns its dumped row count", rows == rowsOf(q), s"$rows != ${rowsOf(q)}")
          perQuery(q) = s :: perQuery(q)
          s
        }
      }
      spent += secs.sum
      // a pass with a failed query yields no pass sample
      if (secs.size == order.size) passS += secs.sum
    }
    if (passS.nonEmpty) {
      r.metrics("op_p50_s") = Stats.median(passS.toSeq)
      r.report += f"contract_pass_s ${Stats.median(passS.toSeq)}%.4f s (median of ${passS.size} passes of ${names.size} queries)"
    }
    val nq = perQuery.values.map(_.size).sum
    r.metrics("work_per_s") = nq / spent
    r.report += f"contract queries per second ${nq / spent}%.3f 1/s"
    names.foreach { q =>
      if (perQuery(q).nonEmpty) {
        r.metrics(s"query.$q.p50_s") = Stats.median(perQuery(q))
        r.report += f"  $q%-28s p50 ${Stats.median(perQuery(q))}%.4f s"
      }
    }
    passS.toSeq
  }

  def split(r: Run): Unit = {
    val spark = r.spark
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val t0 = System.nanoTime()
    r.layer("dedup.minhashSigs")(Dedup.minhashSigs(docs).count())
    r.metrics("dedup.sig_s") = (System.nanoTime() - t0) / 1e9
    val bands = Dedup.minhashBands(docs).cache()
    r.metrics("dedup.band_rows") = r.layer("dedup.minhashBands")(bands.count()).toDouble
    val candidates = r.layer("dedup.candidatePairs")(Dedup.candidatePairs(bands).count())
    val pairs = Dedup.minhashPairs(docs, threshold = 0.3).select("doc_a", "doc_b").cache()
    val verified = r.layer("dedup.minhashPairs")(pairs.count())
    r.metrics("dedup.candidates") = candidates.toDouble
    r.metrics("dedup.verified_pairs") = verified.toDouble
    r.metrics("dedup.verify_yield") = if (candidates == 0) 0.0 else verified.toDouble / candidates
    r.report += s"dedup.verify_yield = $verified verified / $candidates candidate pairs"
    r.metrics("dedup.capped_pairs") =
      Dedup.capTelemetry(bands).select("dropped_candidate_pairs").head().getLong(0).toDouble
    r.layer("dedup.simhashPairs")(Dedup.simhashPairs(docs, maxHamming = 10).count())
    val a = r.layer("dedup.components")(Dedup.components(pairs).collect().map(x => (x.get(0).toString, x.get(1).toString)).toSet)
    val b = r.layer("dedup.componentsLogStar")(
      Dedup.componentsLogStar(pairs).collect().map(x => (x.get(0).toString, x.get(1).toString)).toSet)
    r.check("dedup: components and componentsLogStar agree", a == b, s"${a.size} vs ${b.size} labels")
    bands.unpersist(); pairs.unpersist()
  }

  def finish(r: Run): Unit = ()
}
