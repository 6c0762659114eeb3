package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The injected optimizer rule that turns naive inequality range joins
  * into bucketized equi-joins. Sessions built with GraftExtensions
  * (every [[graft.engine.Session]]) + the width conf must produce
  * identical results WITHOUT a BroadcastNestedLoopJoin in the
  * physical plan. */
class RangeJoinRuleSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def fixtures(): Unit = {
    import spark.implicits._
    Seq(0L, 5L, 10L, 15L, 99L, 100L, 101L, 250L).toDF("p")
      .createOrReplaceTempView("pts")
    Seq((1L, 0L, 10L), (2L, 10L, 101L), (3L, 100L, 100L),
      (4L, 240L, 260L), (5L, 50L, 40L))  // 5 = inverted interval
      .toDF("iid", "s", "e").createOrReplaceTempView("iv")
  }

  private val q =
    "SELECT iid, p FROM pts JOIN iv ON pts.p >= iv.s AND pts.p < iv.e"

  test("inequality join rewrites to a bucket equi-join with identical results") {
    fixtures()
    spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
    val naive = spark.sql(q)
    assert(naive.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "without the conf the naive plan must remain (and be a BNLJ)")
    val expected = naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "7")
    try {
      val rewritten = spark.sql(q)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"rewritten plan still nested-loop:\n$plan")
      assert(plan.contains("Generate"), "interval side must explode buckets")
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
      assert(got.nonEmpty)
    } finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }

  test("mirrored orientation (intervals on the left) also rewrites") {
    fixtures()
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "16")
    try {
      val df = spark.sql(
        "SELECT iid, p FROM iv JOIN pts ON pts.p >= iv.s AND pts.p < iv.e")
      assert(!df.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((1L, 0L)) && got.contains((4L, 250L)))
      assert(!got.exists(_._1 == 5L), "inverted interval matches nothing")
    } finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }

  test("extra equality conjunct (q61 SQL shape) rewrites and folds the key in") {
    import spark.implicits._
    // keyed points and intervals: the q61 shape
    //   ON a.cust = b.cust AND p >= s AND p < e
    Seq((1L, 0L), (1L, 5L), (1L, 12L), (2L, 5L), (2L, 99L), (3L, 7L))
      .toDF("cust", "p").createOrReplaceTempView("kpts")
    Seq((1L, 10L, 0L, 10L), (1L, 11L, 10L, 20L), (2L, 20L, 0L, 50L),
      (2L, 21L, 90L, 95L), (4L, 40L, 0L, 100L))
      .toDF("cust", "iid", "s", "e").createOrReplaceTempView("kiv")
    val kq = """SELECT kiv.iid, kpts.p FROM kpts JOIN kiv
               |ON kpts.cust = kiv.cust AND kpts.p >= kiv.s AND kpts.p < kiv.e""".stripMargin

    spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
    val naive = spark.sql(kq)
    val expected = naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected === Set((10L, 0L), (10L, 5L), (11L, 12L), (20L, 5L)))

    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "8")
    try {
      val rewritten = spark.sql(kq)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"q61-shape SQL must not nested-loop:\n$plan")
      assert(plan.contains("Generate"), "bucket explode must fire")
      // the equality conjunct must ride in the hash-join keys next to
      // the bucket key, not linger as a nested-loop post-filter
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"expected an equi-join on (cust, bucket):\n$plan")
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
    } finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }

  test("cast-wrapped range operands rewrite too") {
    import spark.implicits._
    // point column is INT; the query compares CAST(p AS BIGINT) — the
    // operand is an expression, not a bare attribute
    Seq(0, 5, 99, 250).toDF("p").createOrReplaceTempView("ipts")
    fixtures()
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "7")
    try {
      val df = spark.sql(
        "SELECT iid, p FROM ipts JOIN iv ON CAST(ipts.p AS BIGINT) >= iv.s AND CAST(ipts.p AS BIGINT) < iv.e")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"cast-wrapped operands must still rewrite:\n$plan")
      assert(plan.contains("Generate"))
      val got = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got === Set((1L, 0), (1L, 5), (2L, 99), (4L, 250)))
    } finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }

  test("interval-overlap SQL rewrites to a two-sided bucket join, each pair once") {
    import spark.implicits._
    // proper intervals only (inverted rows raise by design — next test)
    Seq((1L, 0L, 10L), (2L, 10L, 101L), (3L, 100L, 100L), (4L, 240L, 260L))
      .toDF("iid", "s", "e").createOrReplaceTempView("piv")
    Seq((10L, 5L, 12L), (11L, 90L, 260L), (12L, 300L, 310L), (13L, 0L, 1000L))
      .toDF("jid", "s2", "e2").createOrReplaceTempView("jv")
    val oq = """SELECT iid, jid FROM piv JOIN jv
               |ON piv.s <= jv.e2 AND jv.s2 <= piv.e""".stripMargin
    spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
    val naive = spark.sql(oq)
    assert(naive.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val expected = naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .sorted

    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "16")
    // the overlap shape needs its own opt-in: without it the join is
    // untouched even with a bucket width set
    assert(!spark.sql(oq).queryExecution.executedPlan.toString.contains("Generate"),
      "overlap must not rewrite without spark.graft.rangeJoin.overlap.enabled")
    spark.conf.set("spark.graft.rangeJoin.overlap.enabled", "true")
    try {
      val rewritten = spark.sql(oq)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"overlap SQL must not nested-loop:\n$plan")
      assert(plan.contains("Generate"), "both sides must explode buckets")
      // collect WITHOUT distinct: the greatest(start)-bucket guard must
      // emit every overlapping pair exactly once
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .sorted
      assert(got === expected, "same pairs, same multiplicities")
    } finally {
      spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
      spark.conf.unset("spark.graft.rangeJoin.overlap.enabled")
    }
  }

  test("overlap rewrite raises loudly on inverted intervals instead of dropping") {
    import spark.implicits._
    fixtures() // iv contains the inverted interval (5, 50, 40)
    Seq((13L, 0L, 1000L)).toDF("jid", "s2", "e2").createOrReplaceTempView("jv1")
    val oq = """SELECT iid, jid FROM iv JOIN jv1
               |ON iv.s <= jv1.e2 AND jv1.s2 <= iv.e""".stripMargin
    spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
    // raw SQL semantics: the inverted interval DOES match
    assert(spark.sql(oq).collect().exists(_.getLong(0) == 5L),
      "naive plan matches the inverted interval — which is why silent " +
        "dropping would be wrong")
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "16")
    spark.conf.set("spark.graft.rangeJoin.overlap.enabled", "true")
    try {
      val e = intercept[Exception](spark.sql(oq).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("requires start <= end")),
        s"expected the documented inverted-interval error, got: $e")
    } finally {
      spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
      spark.conf.unset("spark.graft.rangeJoin.overlap.enabled")
    }
  }

  test("overlap rewrite drops null-bound rows silently (no raise, no match)") {
    import spark.implicits._
    Seq((1L, Some(0L), Some(10L)), (2L, None, Some(10L)), (3L, Some(5L), None))
      .toDF("nid", "s", "e").createOrReplaceTempView("niv")
    Seq((13L, 0L, 1000L)).toDF("jid", "s2", "e2").createOrReplaceTempView("jv2")
    val oq = """SELECT nid, jid FROM niv JOIN jv2
               |ON niv.s <= jv2.e2 AND jv2.s2 <= niv.e""".stripMargin
    spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
    val expected = spark.sql(oq).collect().map(_.getLong(0)).toSet
    assert(expected === Set(1L), "null bounds match nothing under raw SQL")
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "16")
    spark.conf.set("spark.graft.rangeJoin.overlap.enabled", "true")
    try {
      val got = spark.sql(oq).collect().map(_.getLong(0)).toSet
      assert(got === expected, "rewrite must drop null-bound rows, not raise")
    } finally {
      spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
      spark.conf.unset("spark.graft.rangeJoin.overlap.enabled")
    }
  }

  test("overlap with an extra equality key (full q61 SQL shape) rewrites") {
    import spark.implicits._
    Seq((1L, 100L, 0L, 10L), (1L, 101L, 8L, 20L), (1L, 102L, 30L, 40L),
      (2L, 200L, 0L, 50L), (3L, 300L, 5L, 6L))
      .toDF("cust", "aid", "a_s", "a_e").createOrReplaceTempView("ov_a")
    Seq((1L, 900L, 9L, 12L), (1L, 901L, 39L, 45L), (2L, 902L, 49L, 60L),
      (2L, 903L, 50L, 55L), (4L, 904L, 0L, 100L))
      .toDF("cust", "bid", "b_s", "b_e").createOrReplaceTempView("ov_b")
    // strict half-open overlap + equality key — the q61 semantics
    val oq = """SELECT aid, bid FROM ov_a a JOIN ov_b b
               |ON a.cust = b.cust AND a.a_s < b.b_e AND b.b_s < a.a_e""".stripMargin
    spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
    val expected = spark.sql(oq).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // ground truth by hand: cust1 100∩900 ([0,10)∩[9,12)), 101∩900,
    // 102∩901; cust2 200∩902 ([0,50)∩[49,60)) but NOT 903 ([50,55)
    // starts exactly at 200's exclusive end)
    assert(expected === Seq((100L, 900L), (101L, 900L), (102L, 901L), (200L, 902L)))
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "8")
    spark.conf.set("spark.graft.rangeJoin.overlap.enabled", "true")
    try {
      val rewritten = spark.sql(oq)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"q61-shape overlap SQL must not nested-loop:\n$plan")
      assert(plan.contains("Generate"))
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got === expected)
    } finally {
      spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
      spark.conf.unset("spark.graft.rangeJoin.overlap.enabled")
    }
  }

  test("joins without a range pair are left untouched") {
    fixtures()
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "7")
    try {
      // plain equi-join: no >=/< pair over a common point expression,
      // nothing to rewrite (no bucket Generate in the plan)
      val eq = spark.sql(
        "SELECT iid, p FROM pts JOIN iv ON pts.p = iv.s")
      assert(!eq.queryExecution.executedPlan.toString.contains("Generate"))
      assert(eq.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
      // one-sided inequality only: also untouched
      val half = spark.sql(
        "SELECT iid, p FROM pts JOIN iv ON pts.p >= iv.s")
      assert(!half.queryExecution.executedPlan.toString.contains("Generate"))
    } finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }
}
