package graft.cj

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import graft.model.Triple
import graft.tools.GenGolden

/** Locks the frozen reference-semantics emitter against the checked-in golden
  * fixtures (FIXTURES.md §2): byte-level regeneration equality, which implies
  * triple P/R = 1.0 against the golden contract on every reference example.
  */
class CjGoldenSpec extends AnyFunSuite {

  private val goldenDir = Paths.get("golden")
  private val examplesDir = Paths.get(CjSpark.referenceExamples)
  private val mapper = new ObjectMapper()

  private def fixtures: Vector[String] =
    Files.list(examplesDir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.endsWith(".city.json"))
      .map(_.stripSuffix(".city.json"))
      .toVector.sorted

  test("golden fixtures exist for every reference example") {
    fixtures.foreach { stem =>
      assert(Files.exists(goldenDir.resolve(s"$stem.triples.ndjson")), s"missing golden for $stem")
    }
  }

  fixtures.foreach { stem =>
    test(s"emitter output matches golden fixture: $stem") {
      val json = Files.readString(examplesDir.resolve(s"$stem.city.json"))
      val res = CjConvert.convert(s"cj:$stem", json)
      val regenerated = res.triples.map(GenGolden.tripleJson)
      val golden = Files.readAllLines(goldenDir.resolve(s"$stem.triples.ndjson")).asScala.toVector
      assert(regenerated.size == golden.size,
        s"triple count drift: got ${regenerated.size}, golden ${golden.size}")
      regenerated.zip(golden).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"triple $i drifted")
      }
    }
  }

  fixtures.foreach { stem =>
    test(s"log categories match golden fixture: $stem") {
      val json = Files.readString(examplesDir.resolve(s"$stem.city.json"))
      val res = CjConvert.convert(s"cj:$stem", json)
      val golden = Files.readString(goldenDir.resolve(s"$stem.logs.tsv"))
      assert(GenGolden.logTsv(res.logs) == golden, s"log category drift for $stem")
    }
  }

  test("conversion is deterministic: identical output across repeated runs") {
    val json = Files.readString(examplesDir.resolve("Building.city.json"))
    val r1 = CjConvert.convert("cj:Building", json)
    val r2 = CjConvert.convert("cj:Building", json)
    assert(r1.triples == r2.triples)
    assert(r1.logs == r2.logs)
  }

  test("triple precision/recall vs golden is >= 0.95 on every fixture (set view)") {
    fixtures.foreach { stem =>
      val json = Files.readString(examplesDir.resolve(s"$stem.city.json"))
      val ours = CjConvert.convert(s"cj:$stem", json).triples.toSet
      val golden = Files.readAllLines(goldenDir.resolve(s"$stem.triples.ndjson")).asScala.map { line =>
        val n = mapper.readTree(line)
        def s(f: String) = Option(n.get(f)).map(_.asText).orNull
        Triple(s("subj"), s("pred"), s("obj_iri"), s("obj_lit"), s("obj_type"))
      }.toSet
      val inter = (ours intersect golden).size.toDouble
      val p = if (ours.isEmpty) 1.0 else inter / ours.size
      val r = if (golden.isEmpty) 1.0 else inter / golden.size
      assert(p >= 0.95 && r >= 0.95, f"$stem: P=$p%.3f R=$r%.3f")
    }
  }
}
