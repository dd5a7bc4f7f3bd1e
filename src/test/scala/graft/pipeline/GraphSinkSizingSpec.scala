package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.model.Triple

/** The snapshotted sink takes no file count: AQE sizes each commit's files
  * from its shuffle bytes. Locks that a tiny write lands in one file, that
  * a larger one fans out once the advisory size is lowered, that a hot
  * subject is split across files, and that every case round-trips the
  * triple multiset exactly. */
class GraphSinkSizingSpec extends SparkTestBase {

  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val Hot = "http://ex.org/hot"

  /** `n` triples over 8 input partitions; with `hot`, nine rows in ten
    * share one subject. */
  private def triples(n: Long, hot: Boolean): Dataset[Triple] = {
    val sp = spark; import sp.implicits._
    val hotSubj = Hot // a local, so the closure does not capture the suite
    spark.range(0, n, 1, 8).as[Long].map { i =>
      val subj = if (hot && i % 10 != 0) hotSubj else s"http://ex.org/s${i % 5000}"
      Triple(subj, "web:mentions", s"ent:e${i % 97}", s"span $i", null)
    }
  }

  private def commit(ds: Dataset[Triple]): (GraphSink.Snapshotted, String, Long) = {
    val sink = new GraphSink.Snapshotted
    val dir = Files.createTempDirectory("graph_sizing").toString + "/g"
    sink.write(ds, dir)
    (sink, dir, sink.currentId(spark, dir))
  }

  private def files(dir: String, id: Long): Seq[String] =
    new java.io.File(s"$dir/snap=$id").listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).toSeq

  private def assertMultisetEqual(back: DataFrame, want: DataFrame): Unit = {
    assert(back.columns.toSeq == want.columns.toSeq)
    assert(back.exceptAll(want).isEmpty, "read returned rows the write never had")
    assert(want.exceptAll(back).isEmpty, "read lost rows the write committed")
  }

  private def withAdvisory[A](size: String)(body: => A): A = {
    spark.conf.set(Advisory, size)
    try body finally spark.conf.unset(Advisory)
  }

  test("a tiny write lands in exactly one file and round-trips") {
    val ds = triples(200, hot = false)
    val (sink, dir, id) = commit(ds)
    assert(files(dir, id).size == 1, files(dir, id))
    assertMultisetEqual(sink.read(spark, dir), ds.toDF())
  }

  test("with a lowered advisory size, a larger write lands in several files and round-trips") {
    val ds = triples(200000, hot = false)
    withAdvisory("256k") {
      val (sink, dir, id) = commit(ds)
      assert(files(dir, id).size > 1, files(dir, id))
      assertMultisetEqual(sink.read(spark, dir), ds.toDF())
    }
  }

  test("a subject that holds most of the rows is split across files and round-trips") {
    val ds = triples(200000, hot = true)
    withAdvisory("256k") {
      val (sink, dir, id) = commit(ds)
      val hotFiles = spark.read.parquet(s"$dir/snap=$id").filter(col("subj") === Hot)
        .select(input_file_name()).distinct().count()
      assert(hotFiles > 1, s"hot subject sat in $hotFiles file(s)")
      assertMultisetEqual(sink.read(spark, dir), ds.toDF())
    }
  }
}
