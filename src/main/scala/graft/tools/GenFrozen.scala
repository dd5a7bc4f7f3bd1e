package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Generates the frozen expected-value oracles under `golden/frozen/`:
  * for pure-function queries DuckDB cannot express (simhash, winnowing
  * fingerprint, engine hash64, langid, quality score, the ImageIO/WAV/AVI
  * multimodal codecs), the oracle is a checked-in parquet of the expected
  * output. Generated ONCE per scale, reviewed, committed — afterwards it is
  * a drift lock: any change to the frozen functions (TextOps/Tokenize/
  * Hash64Expr/Multimodal) fails the driver's rows+schema+hash compare until
  * the fixture is deliberately regenerated (same contract as `golden/` and
  * `FrozenExtractSpec`).
  *
  * Layout is SF-KEYED: sf-dependent queries freeze under
  * `golden/frozen/<sf>/<query>.parquet` (one directory per scale the driver
  * may sweep), sf-independent ones (the mm_* codec queries — fixed
  * 500-blob synthetic input) under `golden/frozen/common/`. Verify
  * substitutes `{SF}` in the oracle SQL with the sweep's scale, so a sweep
  * at a scale with no frozen directory fails LOUDLY at read_parquet — never
  * as a silent hash mismatch indistinguishable from an engine bug.
  */
object GenFrozen {
  /** frozen per scale (output depends on the sf tables) */
  val SfQueries: Vector[String] = Vector(
    "doc_simhash", "doc_fingerprint", "doc_split_hash64", "doc_langid",
    "doc_quality_score", "doc_bpe_merges", "doc_bpe_encode")

  /** frozen once (synthetic fixed-size input, identical at every sf) */
  val CommonQueries: Vector[String] = Vector(
    "mm_decode_meta", "mm_features", "mm_frame_sample", "mm_resize")

  def main(args: Array[String]): Unit = {
    // --common-only: regenerate just the sf-independent mm_* fixtures (after
    // a Multimodal codec change) without touching the sf-keyed text oracles
    val commonOnly = args.contains("--common-only")
    // --only=<name>: freeze a single new query without rewriting (and
    // churning) the other fixtures' parquet bytes
    val only = args.collectFirst { case a if a.startsWith("--only=") =>
      a.stripPrefix("--only=") }
    def keep(n: String) = only.forall(_ == n)
    val dirArgs = args.filterNot(_.startsWith("--")).toSeq
    val sfDirs = if (dirArgs.nonEmpty) dirArgs
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val root = Paths.get("golden/frozen")
    val spark = benchSession(8)

    def freeze(name: String, sfDir: String, outDir: java.nio.file.Path): Unit = {
      Files.createDirectories(outDir)
      val tmp = Files.createTempDirectory(s"frozen_$name").resolve("out").toString
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          Files.move(p, outDir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
          moved = true
        }
      }
      require(moved, s"no parquet part written for $name")
      println(s"frozen: $name -> ${outDir.resolve(s"$name.parquet")}")
    }

    if (!commonOnly) sfDirs.foreach { sfDir =>
      val sf = Paths.get(sfDir).getFileName.toString
      SfQueries.filter(keep).foreach(freeze(_, sfDir, root.resolve(sf)))
    }
    CommonQueries.filter(keep).foreach(freeze(_, sfDirs.head, root.resolve("common")))
    spark.stop()
  }
}
