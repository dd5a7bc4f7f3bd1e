package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.link.Linker
import graft.mention.MentionDetect
import graft.model.{Page, Triple, Vocab => V}
import graft.pipeline.{GraphSink, KgPipeline}
import graft.synth.PagesSynth

/** Page generation, sink and check helpers shared by web_ingest and
  * graph_serve. */
object Pages {
  /** Pages [start, start+n) of a corpus of `corpus` pages. */
  def window(spark: SparkSession, start: Long, n: Long, corpus: Long, cpus: Int): Dataset[Page] = {
    import spark.implicits._
    val parts = math.max(1, math.min(cpus * 4L, n / 100)).toInt
    spark.range(start, start + n, 1, parts).mapPartitions(_.map(i => PagesSynth.pageAt(i, corpus).page))
  }

  /** The generator's gold links of the same window, as (url, entity_iri). */
  def golds(spark: SparkSession, start: Long, n: Long, corpus: Long): DataFrame = {
    import spark.implicits._
    spark.range(start, start + n, 1, 16)
      .mapPartitions(_.flatMap(i => PagesSynth.pageAt(i, corpus).golds.map(g => (g.url, g.entity_iri))))
      .toDF("url", "entity_iri")
  }

  /** extract → pageTriples ∪ ontologyTriples, with the extract identity
    * failures and the emitted row count observed inline. */
  def triples(pages: Dataset[Page], obsExtract: Observation, obsEmit: Observation): Dataset[Triple] = {
    val spark = pages.sparkSession
    val ext = KgPipeline.extracted(pages).observe(obsExtract,
      count(lit(1)).as("pages"), sum(when(col("extract_ok"), 0L).otherwise(1L)).as("failures"))
    KgPipeline.pageTriples(ext, PagesSynth.aliasMap).unionAll(KgPipeline.ontologyTriples(spark))
      .observe(obsEmit, count(lit(1)).as("rows"))
  }

  val tripleCols: Seq[String] = Seq("subj", "pred", "obj_iri", "obj_lit", "obj_type")

  /** Multiset fingerprint aggregates: rows and two independent hash sums
    * (order-free, so equal multisets give equal fingerprints). */
  def fingerprintAggs(cols: Seq[String]): Seq[Column] = {
    val cs = cols.map(col)
    Seq(count(lit(1)).as("n"), coalesce(sum(hash(cs: _*).cast("long")), lit(0L)).as("h1"),
      coalesce(sum(shiftright(xxhash64(cs: _*), 33)), lit(0L)).as("h2"))
  }

  def fingerprint(df: DataFrame, cols: Seq[String] = tripleCols): (Long, Long, Long) = {
    val aggs = fingerprintAggs(cols)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def mentionsOf(table: DataFrame): DataFrame =
    table.filter(col("pred") === V.WebMentions).select(col("subj").as("url"), col("obj_iri").as("entity_iri"))

  def dirStats(path: String): (Long, Long) = {
    val files = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.size.toLong, files.map(_.length).sum)
  }
}

/** web_ingest: seeded page-id windows, each extracted, linked, emitted and
  * committed with GraphSink.Snapshotted.write into a fresh table. */
final class WebIngest(m: JsonNode, work: String, cpus: Int) extends Workload {
  private val corpus = m.get("corpus").asLong
  private val batchPages = m.get("batch_pages").asLong
  private val windows = M.longs(m.get("windows"))
  private val sink = new GraphSink.Snapshotted()
  private var next = 0
  private val batches = scala.collection.mutable.ArrayBuffer[WebIngest.Batch]()

  private def ingest(r: Run, start: Long, target: String): Option[(Double, Long)] = {
    val obsE = Observation()
    val obsT = Observation()
    r.op("ingest_batch", Map("start" -> start)) {
      sink.write(Pages.triples(Pages.window(r.spark, start, batchPages, corpus, cpus), obsE, obsT), target)
    }.map { case (_, secs) =>
      val e = obsE.get
      val rows = obsT.get("rows").asInstanceOf[Long]
      batches += WebIngest.Batch(start, target, e("pages").asInstanceOf[Long], e("failures").asInstanceOf[Long], rows)
      (secs, rows)
    }
  }

  def setup(r: Run): Unit = {
    // warm-up on the last windows (the JIT keeps improving the batch for
    // several batches); the timed loop starts at the first window
    (1 to 4).foreach { k =>
      val start = windows(windows.size - k)
      sink.write(Pages.triples(Pages.window(r.spark, start, batchPages, corpus, cpus),
        Observation(), Observation()), s"$work/ingest/warm$k")
    }
  }

  def loop(r: Run, seconds: Double): Seq[Double] = {
    val secs = scala.collection.mutable.ArrayBuffer[Double]()
    val rates = scala.collection.mutable.ArrayBuffer[Double]()
    while (secs.sum < seconds) {
      require(next < windows.size - 8, "manifest has too few windows for the run length")
      ingest(r, windows(next), s"$work/ingest/b$next").foreach { case (s, rows) =>
        secs += s
        rates += rows / s
      }
      next += 1
    }
    r.metrics("op_p50_s") = Stats.median(secs.toSeq)
    r.metrics("work_per_s") = Stats.median(rates.toSeq)
    r.report += f"ingest_batch_p50_s ${Stats.median(secs.toSeq)}%.4f s over ${secs.size} batches of $batchPages pages"
    Stats.tail(secs.toSeq).foreach { case (p, v) =>
      r.report += f"ingest_batch_tail_s (p$p, n=${secs.size}) $v%.4f s" }
    r.report += f"ingest_triples_per_s ${Stats.median(rates.toSeq)}%.0f 1/s (median over batches of committed triples / batch time)"
    secs.toSeq
  }

  def split(r: Run): Unit = {
    import r.spark.implicits._
    val spark = r.spark
    val am = PagesSynth.aliasMap
    val bdict = spark.sparkContext.broadcast(MentionDetect.buildDictionary(am.keys))
    val bam = spark.sparkContext.broadcast(am)
    (0 until 3).foreach { k =>
      val start = windows(windows.size - 5 - k)
      val pages = Pages.window(spark, start, batchPages, corpus, cpus).cache()
      r.layer("synth")(pages.count())
      val ext = KgPipeline.extracted(pages).cache()
      val nPages = r.layer("extract")(ext.count())
      val failures = ext.filter(!col("extract_ok")).count()
      val mentions = ext.mapPartitions(_.flatMap(p => MentionDetect.detect(p.url, p.text, bdict.value))).cache()
      val nMentions = r.layer("mention")(mentions.count())
      val links = mentions.mapPartitions(_.flatMap(mn => Linker.resolve(mn, bam.value))).cache()
      val nLinks = r.layer("link")(links.count())
      val triples = KgPipeline.pageTriples(ext, am).unionAll(KgPipeline.ontologyTriples(spark)).cache()
      val nTriples = r.layer("emit")(triples.count())
      val fam = triples.select(
        sum(when(col("pred") === V.RdfType && col("subj").startsWith("http"), 1L).otherwise(0L)),
        sum(when(col("pred").isin(V.WebLang, V.WebWarcTs, V.WebNChars), 1L).otherwise(0L)),
        sum(when(col("pred") === V.WebMentions, 1L).otherwise(0L))).head()
      val target = s"$work/ingest/split$k"
      r.layer("sink.write")(sink.write(triples, target))
      r.tracer.annotate("sink.write", Map("triples" -> nTriples))
      val (files, bytes) = Pages.dirStats(s"$target/snap=1")
      if (k == 0) {
        r.metrics("extract.pages") = nPages.toDouble
        r.metrics("extract.identity_failures") = failures.toDouble
        r.metrics("mention.mentions") = nMentions.toDouble
        r.metrics("link.links") = nLinks.toDouble
        r.metrics("link.unlinked") = (nMentions - nLinks).toDouble
        r.metrics("emit.triples.type") = fam.getLong(0).toDouble
        r.metrics("emit.triples.literal") = fam.getLong(1).toDouble
        r.metrics("emit.triples.mentions") = fam.getLong(2).toDouble
        r.metrics("emit.triples.ontology") =
          (nTriples - fam.getLong(0) - fam.getLong(1) - fam.getLong(2)).toDouble
        r.metrics("sink.files_written") = files.toDouble
        r.metrics("sink.bytes_per_triple") = bytes.toDouble / nTriples
      }
      r.check(s"split$k extract identity", failures == 0, s"$failures pages")
      r.check(s"split$k links <= mentions", nLinks <= nMentions, s"$nLinks > $nMentions")
      Seq(pages, ext, mentions, links, triples).foreach(_.unpersist())
      deleteDir(target)
    }
    def med(k: String) = Stats.median(r.tracer.durations(k))
    r.metrics("extract.busy_s") = med("extract")
    r.metrics("mention.busy_s") = med("mention")
    r.metrics("link.busy_s") = med("link")
    r.metrics("emit.busy_s") = med("emit")
    r.metrics("sink.write_s") = med("sink.write")
    // the part of the write outside Spark jobs: the wall time no job covers
    // (snapshot id allocation, pointer swap, committed marker)
    r.annotateEngine()
    val jobS = r.tracer.spans.filter(_.name == "sink.write")
      .map(_.attrs.get("spark.job_s").collect { case d: Double => d }.getOrElse(0.0)).toSeq
    r.metrics("sink.commit_s") = math.max(0.0, med("sink.write") - Stats.median(jobS))
    val total = Seq("extract", "mention", "link", "emit", "sink.write").map(med).sum
    r.metrics("split.layers_s") = total
    r.report += f"web_ingest split (median of 3 batches): extract ${med("extract")}%.3f + mention ${med("mention")}%.3f + link ${med("link")}%.3f + emit ${med("emit")}%.3f + sink ${med("sink.write")}%.3f = $total%.3f s; untraced batch p50 ${r.metrics.getOrElse("trace.untraced_op_p50_s", Double.NaN)}%.3f s"
    r.report += "emit re-runs detection and linking inside pageTriples, as the product call does"

    // the sink's serving side: reads, BGPs, forget, compact, expire
    val serve = new GraphServe(m.get("serve"), work, cpus)
    serve.setup(r)
    serve.loop(r, 0.0)
    serve.split(r)
    serve.finish(r)
  }

  def finish(r: Run): Unit = {
    val timed = batches.toSeq
    r.check("ingest: every page passes the extract identity check",
      timed.forall(_.failures == 0), s"${timed.map(_.failures).sum} failures")
    r.check("ingest: every batch extracted its whole window",
      timed.forall(_.pages == batchPages), timed.map(_.pages).mkString(","))
    val tables = timed.zipWithIndex.map { case (b, i) => sink.read(r.spark, b.target).withColumn("batch", lit(i)) }
      .reduce(_ unionAll _)
    val byBatch = tables.groupBy("batch").count().collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
    val committed = timed.indices.map(i => byBatch.getOrElse(i, 0L))
    r.check("ingest: committed rows equal emitted rows", committed == timed.map(_.rows),
      s"committed $committed emitted ${timed.map(_.rows)}")
    val want = timed.map(b => Pages.golds(r.spark, b.start, batchPages, corpus)).reduce(_ unionAll _)
    val link = Seq("url", "entity_iri")
    val (g, w) = (Pages.fingerprint(Pages.mentionsOf(tables), link), Pages.fingerprint(want, link))
    r.check("ingest: committed (url, entity) mentions equal the gold links (P = R = 1)", g == w, s"$g != $w")
    deleteDir(s"$work/ingest")
  }

  private def deleteDir(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }
}

object WebIngest {
  final case class Batch(start: Long, target: String, pages: Long, failures: Long, rows: Long)
}
