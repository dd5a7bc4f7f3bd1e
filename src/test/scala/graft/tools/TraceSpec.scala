package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{SparkEntry, SparkTestBase}

class TraceSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"
  private val names = Seq("q1_pricing", "q_top_orders")

  private def records(out: String): Vector[JsonNode] = {
    val mapper = new ObjectMapper()
    Files.readAllLines(Paths.get(out)).asScala.map(l => mapper.readTree(l)).toVector
  }

  private def ofKind(rs: Vector[JsonNode], kind: String) = rs.filter(_.get("record").asText == kind)

  test("one query record per name with Bench's row count, stage records and one plan per name") {
    val dir = Files.createTempDirectory("trace")
    val out = dir.resolve("trace.jsonl").toString
    val plans = dir.resolve("plans")
    assert(Trace.run(spark, sfDir, 1, out, Some(plans.toString), names) == 0)

    val rs = records(out)
    assert(ofKind(rs, "error").isEmpty)
    val queries = ofKind(rs, "query")
    assert(queries.map(_.get("query").asText).sorted == names.sorted)
    names.foreach { name =>
      val q = queries.find(_.get("query").asText == name).get
      assert(q.get("rows").asLong == SparkEntry.queries(name)(spark, sfDir).count(), name)
      assert(q.get("seconds").size == 1 && q.get("seconds").get(0).asDouble > 0, name)
      val stages = ofKind(rs, "stage").filter(_.get("query").asText == name)
      assert(stages.exists(_.get("tasks").asInt >= 1), s"$name has no stage with a task")
      assert(stages.size == q.get("stages").get(0).asInt, name)
    }
    assert(Files.list(plans).iterator().asScala.map(_.getFileName.toString).toSet ==
      names.map(n => s"$n.txt").toSet)
  }

  test("an unknown query gets an error record and a non-zero status, never a time") {
    val out = Files.createTempDirectory("trace_err").resolve("trace.jsonl").toString
    assert(Trace.run(spark, sfDir, 1, out, None, Seq("no_such_query", "q1_pricing")) == 1)

    val rs = records(out)
    val errors = ofKind(rs, "error")
    assert(errors.map(_.get("query").asText) == Vector("no_such_query"))
    assert(!rs.exists(r => r.get("query").asText == "no_such_query" && r.has("seconds")))
    assert(ofKind(rs, "query").map(_.get("query").asText) == Vector("q1_pricing"))
  }
}
