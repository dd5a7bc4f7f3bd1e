package perfbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.model.{Vocab => V}
import graft.operators.Bgp
import graft.operators.Bgp.Pattern
import graft.pipeline.GraphSink
import graft.synth.PagesSynth

/** The serving side of the sink, run in web_ingest's traced run: one
  * committed snapshot, then a seeded sequence of reads (BGP star, BGP chain,
  * subject lookup, per-entity mention counts) with takedown forgets,
  * compact and expire interleaved, each write checked against the
  * generator's pages. */
final class GraphServe(m: JsonNode, work: String, cpus: Int) {
  private val corpus = m.get("corpus").asLong
  private val start = m.get("snapshot_start").asLong
  private val nPages = m.get("snapshot_pages").asLong
  private val ops = M.nodes(m.get("ops"))
  private val target = s"$work/serve/graph"
  private val sink = new GraphSink.Snapshotted()
  private var next = 0

  // expected state, maintained from the generator's pages and golds
  private var subjFp: DataFrame = _
  private var expected: (Long, Long, Long) = _
  private val fpById = mutable.Map[Long, (Long, Long, Long)]()
  private val forgotten = mutable.Set[Long]()
  private var expectedMentions = 0L
  private val chainDepths = mutable.ArrayBuffer[Double]()
  private val filesRead = mutable.ArrayBuffer[Double]()

  private def spo(df: DataFrame): DataFrame =
    df.select(col("subj"), col("pred"), coalesce(col("obj_iri"), col("obj_lit")).as("obj"))

  private def url(page: Long): String = PagesSynth.urlAt(page, corpus)

  private def star(tr: DataFrame, lang: String): DataFrame =
    Bgp.solve(tr, Seq(Pattern("?p", V.WebLang, lang), Pattern("?p", V.WebMentions, "?e")))

  private def chain(tr: DataFrame, entity: Int): DataFrame =
    Bgp.solve(tr, Seq(Pattern("?p", V.WebMentions, "?e"),
      Pattern("?e", V.RdfName, PagesSynth.canonicalAlias(entity))))

  private def mentionCounts(table: DataFrame): Array[org.apache.spark.sql.Row] =
    table.filter(col("pred") === V.WebMentions).groupBy("obj_iri").agg(count(lit(1)).as("n")).collect()

  private def read(op: JsonNode): Long = op.get("op").asText match {
    case "star" => star(spo(sink.read(spark, target)), op.get("lang").asText).count()
    case "chain" => chain(spo(sink.read(spark, target)), op.get("entity").asInt).count()
    case "lookup" => sink.read(spark, target).filter(col("subj") === url(op.get("page").asLong)).collect().length
    case "counts" => mentionCounts(sink.read(spark, target)).map(_.getLong(1)).sum
  }
  private var spark: org.apache.spark.sql.SparkSession = _

  /** Snapshot ids this snapshot reads through, itself first. */
  private def chainOf(id: Long): List[Long] = {
    val f = new java.io.File(s"$target/snap=$id/_BASE")
    if (!f.exists()) List(id)
    else id :: chainOf(java.nio.file.Files.readString(f.toPath).trim.toLong)
  }

  private def parquetFiles(dir: java.io.File): Int =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum

  def setup(r: Run): Unit = {
    spark = r.spark
    val sp = spark
    import sp.implicits._
    sink.write(Pages.triples(Pages.window(spark, start, nPages, corpus, cpus), Observation(), Observation()), target)
    val aggs = Pages.fingerprintAggs(Pages.tripleCols)
    subjFp = sink.read(spark, target).groupBy("subj").agg(aggs.head, aggs.tail: _*).cache()
    expected = totals(subjFp)
    fpById(sink.currentId(spark, target)) = expected
    expectedMentions = Pages.golds(spark, start, nPages, corpus).count()
    // warm-up: every read kind, and the write path through an empty forget
    Seq("""{"op":"star","lang":"en"}""", """{"op":"chain","entity":3}""",
        s"""{"op":"lookup","page":$start}""", """{"op":"counts"}""").foreach(j => read(Json.parse(j)))
    sink.forget(spark, target, Seq.empty[String].toDS())
    sink.compact(spark, target)
    sink.expire(spark, target, 2)
    val cur = sink.currentId(spark, target)
    fpById(cur) = expected
    val fp = Pages.fingerprint(sink.read(spark, target))
    r.check("serve: warm-up forget/compact keeps every row", fp == expected, s"$fp != $expected")
  }

  private def totals(fp: DataFrame): (Long, Long, Long) = {
    val t = fp.agg(coalesce(sum("n"), lit(0L)), coalesce(sum("h1"), lit(0L)), coalesce(sum("h2"), lit(0L))).head()
    (t.getLong(0), t.getLong(1), t.getLong(2))
  }

  private def minus(a: (Long, Long, Long), b: (Long, Long, Long)) = (a._1 - b._1, a._2 - b._2, a._3 - b._3)

  def loop(r: Run, seconds: Double): Seq[Double] = {
    val sp = spark
    import sp.implicits._
    val readS = mutable.ArrayBuffer[Double]()
    val writeS = mutable.ArrayBuffer[Double]()
    // whole cycles (reads, forgets, compact, expire), so every run times
    // the same mix of operations
    var cycleDone = false
    while (readS.sum + writeS.sum < seconds || !cycleDone) {
      require(next < ops.size, "manifest has too few ops for the run length")
      val op = ops(next)
      cycleDone = op.get("op").asText == "expire"
      next += 1
      val kind = op.get("op").asText
      kind match {
        case "star" | "chain" | "lookup" | "counts" =>
          if (r.tracer.enabled) {
            val chain = chainOf(sink.currentId(spark, target))
            chainDepths += (chain.size - 1).toDouble
            filesRead += chain.map(id => parquetFiles(new java.io.File(s"$target/snap=$id"))).sum.toDouble
          }
          r.op(s"read.$kind")(read(op)).foreach { case (n, s) =>
            readS += s
            if (kind == "lookup") {
              val page = op.get("page").asLong
              val want = if (forgotten(page)) 0 else 4 + PagesSynth.pageAt(page, corpus).golds.size
              r.check("serve: lookup returns the page's rows", n == want, s"page $page: $n != $want")
            }
            if (kind == "counts")
              r.check("serve: mention counts sum to the live gold links", n == expectedMentions,
                s"$n != $expectedMentions")
          }
        case "forget" =>
          val pages = M.longs(op.get("pages"))
          val urls = pages.map(url)
          val prev = sink.currentId(spark, target)
          r.op("write.forget")(sink.forget(spark, target, urls.toDS())).foreach { case (id, s) =>
            writeS += s
            forgotten ++= pages
            expectedMentions -= pages.map(p => PagesSynth.pageAt(p, corpus).golds.size.toLong).sum
            expected = minus(expected, totals(subjFp.filter(col("subj").isin(urls: _*))))
            fpById(id) = expected
            val cur = sink.read(spark, target)
            val left = cur.filter(col("subj").isin(urls: _*)).count()
            r.check("serve: forgotten subjects are gone", left == 0, s"$left rows left")
            val fp = Pages.fingerprint(cur)
            r.check("serve: every other subject's rows are unchanged", fp == expected, s"$fp != $expected")
            val old = Pages.fingerprint(sink.readAsOf(spark, target, prev))
            r.check("serve: the previous snapshot reads the same through readAsOf", old == fpById(prev),
              s"$old != ${fpById(prev)}")
          }
        case "compact" =>
          val prev = sink.currentId(spark, target)
          r.op("write.compact")(sink.compact(spark, target)).foreach { case (id, s) =>
            writeS += s
            fpById(id) = expected
            val changes = sink.readChanges(spark, target, prev, id).count()
            r.check("serve: readChanges across a compact is empty", changes == 0, s"$changes changes")
          }
        case "expire" =>
          val cur = sink.currentId(spark, target)
          r.op("write.expire")(sink.expire(spark, target, op.get("keep").asInt)).foreach { case (victims, s) =>
            writeS += s
            r.check("serve: expire keeps the current snapshot", !victims.contains(cur), s"expired $cur")
            val left = sink.snapshots(spark, target)
            val broken = left.flatMap(chainOf).filterNot(id => new java.io.File(s"$target/snap=$id").exists())
            r.check("serve: expire keeps every base a kept snapshot reads through", broken.isEmpty,
              s"missing bases $broken")
            val fp = Pages.fingerprint(sink.read(spark, target))
            r.check("serve: the current snapshot reads the same after expire", fp == expected, s"$fp != $expected")
          }
      }
    }
    val n = readS.size + writeS.size
    r.report += f"serve_read_p50_s ${Stats.median(readS.toSeq)}%.4f s over ${readS.size} reads"
    Stats.tail(readS.toSeq).foreach { case (p, v) =>
      r.report += f"serve_read_tail_s (p$p, n=${readS.size}) $v%.4f s" }
    if (writeS.nonEmpty)
      r.report += f"serve_write_p50_s ${Stats.median(writeS.toSeq)}%.4f s over ${writeS.size} forget/compact/expire"
    r.report += f"serve_ops_per_s ${n / (readS.sum + writeS.sum)}%.3f 1/s"
    readS.toSeq
  }

  def split(r: Run): Unit = {
    // one of each write, so the traced run times every write path even
    // when its loop ended before the first compact
    val sp = spark
    import sp.implicits._
    val forget = ops.drop(next).find(_.get("op").asText == "forget").get
    val urls = M.longs(forget.get("pages")).map(url)
    r.layer("write.forget")(sink.forget(spark, target, urls.toDS()))
    r.layer("write.compact")(sink.compact(spark, target))
    r.layer("write.expire")(sink.expire(spark, target, 2))
    def med(k: String) = { val d = r.tracer.durations(k); if (d.isEmpty) 0.0 else Stats.median(d) }
    r.metrics("sink.forget_s") = med("write.forget")
    r.metrics("sink.compact_s") = med("write.compact")
    r.metrics("sink.expire_s") = med("write.expire")
    if (chainDepths.nonEmpty) {
      r.metrics("sink.delete_chain_depth") = chainDepths.max
      r.metrics("sink.files_read") = Stats.median(filesRead.toSeq)
    }
    // read, then the BGP over the materialized read, one layer at a time
    val reads = mutable.ArrayBuffer[Double]()
    val bgps = mutable.ArrayBuffer[Double]()
    var bindings = 0L
    (1 to 3).foreach { _ =>
      val t0 = System.nanoTime()
      val tr = r.layer("sink.read") {
        val df = spo(sink.read(spark, target)).cache()
        df.count(); df
      }
      reads += (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      bindings = r.layer("bgp.solve")(star(tr, "en").count() + chain(tr, 3).count())
      bgps += (System.nanoTime() - t1) / 1e9
      tr.unpersist()
    }
    r.metrics("sink.read_s") = Stats.median(reads.toSeq)
    r.metrics("bgp.busy_s") = Stats.median(bgps.toSeq)
    r.metrics("bgp.bindings") = bindings.toDouble
    r.metrics("sink.snapshots_on_disk") = sink.snapshots(spark, target).size.toDouble
  }

  def finish(r: Run): Unit = {
    subjFp.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$work/serve"))
  }
}
