package perfbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Dataset, Observation}
import org.apache.spark.sql.functions._
import graft.cj.{CjConvert, CjSpark}
import graft.cj.CjSpark.CjDoc
import graft.model.Triple

/** cityjson_convert: CjSpark.convert over a cached Dataset of seed-generated
  * CityJSON 1.1 documents with heavy-tailed sizes. Every conversion's output
  * multiset is compared with serial per-document CjConvert.convert. */
final class CityJsonConvert(m: JsonNode, cpus: Int) extends Workload {
  private val expectedErrors = m.get("expected_error_logs").asLong
  private val docs: Vector[CjDoc] = {
    val src = scala.io.Source.fromFile(m.get("corpus").asText, "UTF-8")
    try src.getLines().map { l =>
      val j = Json.parse(l)
      CjDoc(j.get("doc_iri").asText, j.get("json").asText)
    }.toVector finally src.close()
  }
  private var ds: Dataset[CjDoc] = _
  private var serialFp: (Long, Long, Long) = _

  /** Serial per-document conversion: (triples, error logs, failed docs,
    * per-document seconds). */
  private def serial(r: Run): (Vector[Triple], Long, Long, Seq[Double]) = {
    val out = Vector.newBuilder[Triple]
    var errors = 0L
    var failed = 0L
    val secs = docs.map { d =>
      val t0 = System.nanoTime()
      val res = r.tracer.span("cj.convert", Map("doc" -> d.doc_iri))(CjConvert.convert(d.doc_iri, d.json))
      val s = (System.nanoTime() - t0) / 1e9
      out ++= res.triples
      errors += res.logs.count(_.level == "Error")
      if (res.docFailed) failed += 1
      s
    }
    (out.result(), errors, failed, secs)
  }

  def setup(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    ds = spark.createDataset(docs).repartition(math.min(docs.size, cpus * 4)).cache()
    ds.count()
    val (triples, errors, failed, _) = serial(r)
    r.check("cj: no document fails", failed == 0, s"$failed failed documents")
    r.check("cj: Error-log count equals the generator's expected count", errors == expectedErrors,
      s"$errors != $expectedErrors")
    serialFp = Pages.fingerprint(spark.createDataset(triples).toDF())
    val stats = CjSpark.convertStats(ds).agg(sum("n_errors"), sum(when(col("failed"), 1L).otherwise(0L))).head()
    r.check("cj: Spark per-document Error logs equal serial", stats.getLong(0) == errors,
      s"${stats.getLong(0)} != $errors")
    // the conversion keeps getting faster for about ten runs (JIT)
    (1 to 10).foreach(_ => convert())
  }

  /** One corpus conversion to completion; returns the output fingerprint. */
  private def convert(): (Long, Long, Long) = {
    val obs = Observation()
    val aggs = Pages.fingerprintAggs(Pages.tripleCols)
    CjSpark.convert(ds).observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
    val g = obs.get
    (g("n").asInstanceOf[Long], g("h1").asInstanceOf[Long], g("h2").asInstanceOf[Long])
  }

  def loop(r: Run, seconds: Double): Seq[Double] = {
    val secs = mutable.ArrayBuffer[Double]()
    val rates = mutable.ArrayBuffer[Double]()
    var failedOps = 0
    while (secs.sum < seconds && failedOps < 3) {
      r.op("cj.corpus")(convert()) match {
        case Some((fp, s)) =>
          secs += s
          rates += fp._1 / s
          r.check("cj: Spark output multiset equals serial CjConvert", fp == serialFp, s"$fp != $serialFp")
        case None => failedOps += 1
      }
    }
    if (secs.nonEmpty) {
      r.metrics("op_p50_s") = Stats.median(secs.toSeq)
      r.metrics("work_per_s") = Stats.median(rates.toSeq)
      r.report += f"cj corpus conversion p50 ${Stats.median(secs.toSeq)}%.4f s over ${secs.size} conversions of ${docs.size} documents"
      r.report += f"cj_triples_per_s ${Stats.median(rates.toSeq)}%.0f 1/s (${serialFp._1} triples per conversion)"
    }
    secs.toSeq
  }

  def split(r: Run): Unit = {
    val (triples, errors, _, secs) = serial(r)
    r.metrics("cj.docs") = docs.size.toDouble
    r.metrics("cj.triples") = triples.size.toDouble
    r.metrics("cj.error_logs") = errors.toDouble
    r.metrics("cj.doc_s.p50") = Stats.median(secs)
    r.metrics("cj.doc_s.max") = secs.max
  }

  def finish(r: Run): Unit = ds.unpersist()
}
