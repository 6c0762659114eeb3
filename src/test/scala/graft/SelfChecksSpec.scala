package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
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
    val detail = "quote \" backslash \\ tab \t cr \r soh \u0001 end"
    val parsed = parse(SelfChecks.toJson(Seq("q\"x" -> (false, detail))))
    assert(parsed \ "q\"x" \ "detail" === JString(detail))
    assert(parsed \ "q\"x" \ "pass" === JBool(false))
    // Verify's oracle_sql.json: the dump dir lands inside the SQL text
    val sql = "SELECT '__GRAFT_OUT__/q\"1' AS p,\t'\\' AS b\nFROM t"
    val oracle = parse(compact(render(Verify.oracleJson(Seq("q\\1" -> sql), "/o'' d"))))
    assert(oracle === JObject("q\\1" -> JString("SELECT '/o'' d/q\"1' AS p,\t'\\' AS b\nFROM t")))
    // ... and the stub written when the self-checks cannot run at all
    assert(parse(compact(render(Verify.selfChecksCrash(new IllegalStateException(detail))))) ===
      JObject("error" -> JString("self-checks crashed: IllegalStateException")))
  }

  // ------------------------ bench.json / headline encoding

  private val oddSf = "/data/sf \"0.1\" \\ copy\tB"

  private def battery(sf: String) = Bench.Battery(
    times = (1 to 6).map(i => s"q0$i" -> Seq(i * 1.0, i * 1.25, i * 0.5)),
    loads = (1 to 6).map(i => s"q0$i" -> Seq(0.25, 1.0, 2.35)).toMap,
    iters = 3, peakStorageBytes = 5L << 20, leakedCachedRdds = 0,
    stealPct = Some(0.125), swept = Seq("q03" -> 4), failures = Seq("q\"07"),
    q90Phases = Some((1.0, 0.5)), sf = sf)

  test("battery record and headline parse back with sf unchanged, keys in artifact order") {
    val b = battery(oddSf)
    val record = parse(compact(render(b.record)))
    val headline = parse(compact(render(b.headline)))
    assert(record \ "sf" === JString(oddSf))
    assert(headline \ "sf" === JString(oddSf))
    // the record's keys are the committed bench.json's, in order, less
    // the scaling object the harness appends
    val committed = parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get("bench.json"))).asInstanceOf[JObject]
    assert(record.asInstanceOf[JObject].obj.map(_._1) ===
      committed.obj.map(_._1).filterNot(_ == "scaling"))
    assert(headline.asInstanceOf[JObject].obj.map(_._1) === List("metric", "value", "unit",
      "total_min", "iters", "first_run_total", "failed", "leaked_cached_rdds", "queries",
      "queries_truncated", "sf"))
    // medians 1..6, printed at the artifact's precision
    assert(compact(render(b.record)).startsWith("""{"metric":"total","value":21.000,"unit":"sec","total_min":10.500,"iters":3,"first_run_total":21.000,"peak_storage_mb":5,"leaked_cached_rdds":0,"steal_pct":0.13,"""))
    assert((headline \ "queries").asInstanceOf[JObject].obj.map(_._1) ===
      List("q06", "q05", "q04", "q03", "q02"))
    assert(record \ "stats" \ "q03" \ "load" === JArray(List(0.3, 1.0, 2.4).map(JDouble(_))))
    assert(record \ "failed" === JArray(List(JString("q\"07"))))
    // optional fields drop out instead of rendering empty
    val bare = parse(compact(render(battery("x").copy(stealPct = None, q90Phases = None).record)))
    assert(bare \ "steal_pct" === JNothing)
    assert(bare \ "q90_save_sec" === JNothing)
  }

  test("prior scaling sections read from the committed bench.json equal json4s's parse") {
    val path = java.nio.file.Paths.get("bench.json")
    val prior = Bench.priorScalingSections(Bench.readBench(path))
    val whole = parse(java.nio.file.Files.readString(path), useBigDecimalForDouble = true)
    assert(Scaling.sectionNames.size === 11)
    Scaling.sectionNames.map(Scaling.jsonKey).foreach { key =>
      val expected = whole \ "scaling" \ key
      assert(expected.isInstanceOf[JArray] && expected.children.nonEmpty, key)
      assert(prior.get(key) === Some(expected), key)
    }
    assert(Bench.priorScalingSections(Bench.readBench(path.resolveSibling("no-such.json"))).isEmpty)
  }

  test("a SCALING_ONLY splice replaces only the scaling object") {
    val old = Bench.readBench(java.nio.file.Paths.get("bench.json")).asInstanceOf[JObject]
    val oldScaling = (old \ "scaling").asInstanceOf[JObject]
    val fresh = JObject(oldScaling.obj.map {
      case ("pagerank", _) => "pagerank" -> JArray(List(JObject("x" -> JInt(1))))
      case f => f
    })
    val spliced = parse(compact(render(Bench.withScaling(old, fresh))),
      useBigDecimalForDouble = true).asInstanceOf[JObject]
    assert(spliced.obj.map(_._1) === old.obj.map(_._1))
    old.obj.filterNot(_._1 == "scaling").foreach { case (k, v) =>
      assert(spliced \ k === v, k)
    }
    oldScaling.obj.filterNot(_._1 == "pagerank").foreach { case (k, v) =>
      assert(spliced \ "scaling" \ k === v, k)
    }
    assert(spliced \ "scaling" \ "pagerank" === JArray(List(JObject("x" -> JInt(1)))))
    // a record without scaling gets it appended last
    val appended = Bench.withScaling(JObject("metric" -> JString("total")), fresh)
    assert(appended.obj.map(_._1) === List("metric", "scaling"))
  }
}
