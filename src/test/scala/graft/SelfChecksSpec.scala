package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drives [[SelfChecks]] exactly as Verify does — dump the checked
  * queries to parquet, run the checks against the dump — so a
  * broken check (schema drift, a crashed re-derivation) fails here in
  * the suite instead of surfacing as a silent `pass:false` in the
  * driver's round artifact. */
class SelfChecksSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("all self-checks pass against a fresh dump and emit valid JSON") {
    val out = java.nio.file.Files.createTempDirectory("graft-selfcheck").toString
    Seq("q30_doc_recommend", "q67_recommend_hashed", "q33_ann_lsh",
      "q43_lsh_neardup", "q35_sketches", "q54_corpus_sketch",
      "q112_append_index_dedup", "q226_residual_index_append").foreach { name =>
      SparkEntry.queries(name)(spark, dir)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    }
    val results = SelfChecks.run(spark, dir, out)
    assert(results.map(_._1) === Seq("q30_doc_recommend", "q67_recommend_hashed",
      "q33_ann_lsh", "q43_lsh_neardup", "q35_sketches", "q54_corpus_sketch",
      "q84_incremental_neardup", "stream_arrival_end_state",
      "residual_stream_end_state", "als_planted_blocks"))
    results.foreach { case (name, (pass, detail)) =>
      assert(pass, s"$name self-check failed: $detail")
    }
    // the JSON must parse on the driver side — round-trip it through
    // Spark's own JSON reader as a stand-in for the driver's json.load
    val json = SelfChecks.toJson(results)
    import spark.implicits._
    val parsed = spark.read.json(Seq(json).toDS()).collect()
    assert(parsed.length === 1)
    assert(parsed.head.schema.fieldNames.length === 10)
  }

  test("a violated invariant turns into pass=false, not an exception") {
    val out = java.nio.file.Files.createTempDirectory("graft-selfcheck-bad").toString
    // q33 dump with the query vector smuggled in (self-inclusion) and
    // a non-ascending distance
    import spark.implicits._
    Seq((0L, 0.5), (7L, 0.2)).toDF("vec_id", "distance")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/q33_ann_lsh")
    val res = SelfChecks.run(spark, dir, out).toMap
    val (pass, detail) = res("q33_ann_lsh")
    assert(!pass)
    assert(detail.contains("self-excluded") || detail.contains("expected 10 rows"),
      s"detail should name the violation: $detail")
    // the other checks see a missing dump — must report a crash, not throw
    assert(res("q30_doc_recommend")._1 === false)
  }

  test("escaped detail strings parse back unchanged") {
    import org.json4s.JString
    import org.json4s.jackson.JsonMethods
    val detail = "quote \" backslash \\ tab \t cr \r soh \u0001 end"
    val parsed = JsonMethods.parse(SelfChecks.toJson(Seq("q\"x" -> (false, detail))))
    assert(parsed \ "q\"x" \ "detail" === JString(detail))
  }
}
