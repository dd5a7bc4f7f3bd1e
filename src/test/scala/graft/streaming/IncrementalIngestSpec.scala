package graft.streaming

import java.nio.file.Files
import graft.SparkTestBase
import graft.synth.PagesSynth

class IncrementalIngestSpec extends SparkTestBase {

  test("AvailableNow ingest processes each snapshot exactly once across runs") {
    val root = Files.createTempDirectory("ingest").toString
    val pagesDir = s"$root/pages"
    val graphDir = s"$root/graph"
    val ckpt = s"$root/ckpt"

    // snapshot 1: pages [0, 100)
    PagesSynth.pages(spark, 100).write.mode("append").parquet(pagesDir)
    IncrementalIngest.runOnce(spark, pagesDir, graphDir, ckpt)
    val after1 = spark.read.parquet(graphDir)
    val n1 = after1.count()
    assert(after1.select("subj").distinct().count() >= 100)

    // re-run with nothing new: checkpoint must prevent reprocessing
    IncrementalIngest.runOnce(spark, pagesDir, graphDir, ckpt)
    assert(spark.read.parquet(graphDir).count() == n1, "no-op pass must append nothing")

    // snapshot 2: pages [100, 200) — write as a separate batch of files
    val sps = spark; import sps.implicits._
    spark.range(100, 200).mapPartitions(_.map(i => PagesSynth.pageAt(i, 200).page))
      .write.mode("append").parquet(pagesDir)
    IncrementalIngest.runOnce(spark, pagesDir, graphDir, ckpt)
    val after2 = spark.read.parquet(graphDir)
    assert(after2.count() > n1)
    // each url appears exactly once per its triple set (no double ingestion)
    val dupUrls = after2.filter("pred = 'web:lang'").groupBy("subj").count().filter("count > 1").count()
    assert(dupUrls == 0, "no page ingested twice")

    // batch equivalence: the streaming path must emit EXACTLY the triples the
    // batch pipeline emits over the same input rows (read the ingested
    // snapshots back as a batch source and run the same stages)
    val batchPages = spark.read.schema(IncrementalIngest.pageSchema).parquet(pagesDir)
      .as[graft.model.Page]
    val batch = graft.pipeline.KgPipeline
      .pageTriples(graft.pipeline.KgPipeline.extracted(batchPages), PagesSynth.aliasMap).toDF()
    assert(after2.exceptAll(batch).count() == 0 && batch.exceptAll(after2).count() == 0,
      "streaming output must equal batch output as a multiset")
  }

  test("a non-parquet file in the pages dir fails the pass loudly and leaves the graph unchanged") {
    val root = Files.createTempDirectory("ingest_garbage").toString
    val pagesDir = s"$root/pages"
    val graphDir = s"$root/graph"
    val ckpt = s"$root/ckpt"
    PagesSynth.pages(spark, 50).write.mode("append").parquet(pagesDir)
    IncrementalIngest.runOnce(spark, pagesDir, graphDir, ckpt)
    val before = spark.read.parquet(graphDir).count()
    assert(before > 0)

    Files.writeString(java.nio.file.Paths.get(s"$pagesDir/garbage.parquet"), "not parquet")
    intercept[Exception](IncrementalIngest.runOnce(spark, pagesDir, graphDir, ckpt))
    assert(spark.read.parquet(graphDir).count() == before, "a failed pass must not change the graph")
  }

  test("encoded-path ingest appends fixed-width rows exactly once, multiset-equal to the batch encoded pipeline") {
    val root = Files.createTempDirectory("ingest_enc").toString
    val pagesDir = s"$root/pages"
    val tableDir = s"$root/table"
    val ckpt = s"$root/ckpt"
    val n = 150L
    val sps = spark; import sps.implicits._

    // the page dictionary is minted up front (ids are dictionary facts, not
    // url parses) — the stream-static join resolves page_ids against it
    val dict = PagesSynth.pageDict(spark, n)

    // snapshot 1: pages [0, 100)
    spark.range(0, 100).mapPartitions(_.map(i => PagesSynth.pageAt(i, n).page))
      .write.mode("append").parquet(pagesDir)
    IncrementalIngest.runOnceEncoded(spark, pagesDir, tableDir, ckpt, dict)
    val n1 = spark.read.parquet(s"$tableDir/triples").count()
    assert(n1 >= 400, s"4 base triples per page expected, got $n1")

    // exactly-once: a no-op pass appends nothing
    IncrementalIngest.runOnceEncoded(spark, pagesDir, tableDir, ckpt, dict)
    assert(spark.read.parquet(s"$tableDir/triples").count() == n1)

    // snapshot 2: the rest of the corpus
    spark.range(100, n).mapPartitions(_.map(i => PagesSynth.pageAt(i, n).page))
      .write.mode("append").parquet(pagesDir)
    IncrementalIngest.runOnceEncoded(spark, pagesDir, tableDir, ckpt, dict)
    val fact = spark.read.parquet(s"$tableDir/triples")

    // the streamed fact table is pure fixed-width numerics...
    assert(fact.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType), fact.schema.toString)
    // ...and multiset-identical to the batch encoded pipeline over the
    // same corpus — the catch-up path lands EXACTLY the batch table's rows
    val batch = graft.pipeline.KgPipeline.encodedTriples(spark, n).toDF()
    assert(fact.exceptAll(batch).count() == 0 && batch.exceptAll(fact).count() == 0,
      "encoded streaming output must equal batch encoded output as a multiset")
  }

  test("WARC-fed ingest: crawl segments to graph triples, exactly once, batch-equal") {
    val sps = spark; import sps.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("warc_ingest").toString
    val warcDir = s"$root/crawl"
    val graphDir = s"$root/graph"
    val ckpt = s"$root/ckpt"
    val all = PagesSynth.pages(spark, 150)
    val meta = all.select(col("url"), col("lang"))

    // segment 1 lands: the first 100 pages
    graft.sources.Warc.write(all.filter(col("url").rlike("/p/[0-9]$|/p/[0-9][0-9]$")),
      warcDir, prefix = "seg1")
    IncrementalIngest.runOnceWarc(spark, warcDir, graphDir, ckpt, meta)
    val n1 = spark.read.parquet(graphDir).count()
    assert(n1 > 0)

    // no-op pass: the checkpoint remembers every processed segment file
    IncrementalIngest.runOnceWarc(spark, warcDir, graphDir, ckpt, meta)
    assert(spark.read.parquet(graphDir).count() == n1)

    // segment 2 lands; only it is processed
    graft.sources.Warc.write(all.filter(col("url").rlike("/p/1[0-4][0-9]$")),
      warcDir, prefix = "seg2")
    IncrementalIngest.runOnceWarc(spark, warcDir, graphDir, ckpt, meta)
    val got = spark.read.parquet(graphDir)
    val dupUrls = got.filter("pred = 'web:lang'").groupBy("subj").count().filter("count > 1").count()
    assert(dupUrls == 0, "no page ingested twice")

    // multiset-equal to the batch pipeline over the same 150 pages
    val batch = graft.pipeline.KgPipeline
      .pageTriples(graft.pipeline.KgPipeline.extracted(all), PagesSynth.aliasMap).toDF()
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "WARC-fed streaming output must equal batch output as a multiset")
  }
}
