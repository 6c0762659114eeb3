package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SkewJoin

class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("GraftExtensions registers SQL functions at session build time") {
    val r = spark.sql(
      "SELECT graft_lemmatize('testing') AS l, graft_simhash(array('a','b')) AS s")
      .collect().head
    assert(r.getString(0) === "test")
    assert(r.getLong(1) === graft.ops.SimHash.ofTokens(Iterator("a", "b")))
    val v = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       graft_sqdist(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS s""".stripMargin)
      .collect().head
    assert(v.getDouble(0) === 11.0)
    assert(v.getDouble(1) === 25.0)
    assert(spark.sql("SELECT graft_zorder(3, 3) AS z").collect().head.getLong(0) === 15L)
    // the aggregate surface: per-group top-2 by score in pure SQL
    spark.sql("SELECT * FROM VALUES ('a', 1L, 5.0D), ('a', 2L, 9.0D), " +
      "('a', 3L, 7.0D), ('b', 4L, 1.0D) AS t(g, id, o)")
      .createOrReplaceTempView("tk_in")
    val tk = spark.sql(
      """SELECT g, e.id FROM (
        |  SELECT g, graft_top_k(o, id, 2) AS tk FROM tk_in GROUP BY g
        |) LATERAL VIEW explode(tk) AS e ORDER BY g, e.ord DESC""".stripMargin)
      .collect().map(r0 => (r0.getString(0), r0.getLong(1))).toSeq
    assert(tk === Seq(("a", 2L), ("a", 3L), ("b", 4L)))
    // frequent-items candidate aggregate: k=1 over x,x,x,y,z leaves x
    spark.sql("SELECT * FROM VALUES ('x'),('x'),('x'),('y'),('z') AS t(w)")
      .createOrReplaceTempView("hh_in")
    val fi = spark.sql("SELECT graft_frequent_items(w, 1) AS c FROM hh_in")
      .collect().head.getSeq[String](0)
    assert(fi === Seq("x"))
    // bloom probe: build a blob via the API, probe it from SQL (named
    // parameter carries the binary)
    val blob = Seq(1L, 2L, 3L).toDF("h")
      .agg(graft.ops.BloomFns.bloomAgg(col("h"), 1 << 10, 5))
      .collect().head.getAs[Array[Byte]](0)
    val probes = spark.sql(
      "SELECT graft_bloom_contains(:b, 2L) AS hit, " +
        "graft_bloom_contains(:b, 424242L) AS miss",
      Map("b" -> blob)).collect().head
    assert(probes.getBoolean(0) === true)
    assert(probes.getBoolean(1) === false)
  }

  test("salted join returns exactly the rows of the plain join under skew") {
    // 90% of the big side lands on key 1 (pathological skew)
    val big = (1 to 2000).map(i =>
      (if (i % 10 == 0) i % 7 else 1, i.toLong)).toDF("k", "row_id")
    val small = Seq((1, "hot"), (2, "warm"), (3, "cold"), (0, "zero"))
      .toDF("sk", "label")
    val plain = big.join(small, big("k") === small("sk"))
      .select("row_id", "label").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = SkewJoin.saltedInnerJoin(big, small, "k", "sk",
        numSalts = 8, saltSource = Seq("row_id"))
      .select("row_id", "label").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted === plain)
    assert(salted.nonEmpty)
  }

  test("salting spreads the hot key: max per-task key input drops ~numSalts×") {
    // same pathological shape as above: ~90% of rows on key 1, so the
    // unsalted shuffle sends ~1800 rows to one task. After salting the
    // shuffle key is (k, salt): the hot key's rows split across 8
    // sub-keys, so the largest single-task input must shrink by at
    // least half of the ideal 8× (hash spread is not perfectly even).
    val numSalts = 8
    val big = (1 to 2000).map(i =>
      (if (i % 10 == 0) i % 7 else 1, i.toLong)).toDF("k", "row_id")
    val maxPlain = big.groupBy("k").count()
      .agg(max("count")).head().getLong(0)
    val maxSalted = big
      .withColumn("__salt", SkewJoin.saltCol(Seq("row_id"), numSalts))
      .groupBy("k", "__salt").count()
      .agg(max("count")).head().getLong(0)
    assert(maxPlain >= 1800, s"fixture lost its skew: maxPlain=$maxPlain")
    assert(maxSalted * (numSalts / 2) <= maxPlain,
      s"salting did not spread the hot key: $maxSalted per (key,salt) vs $maxPlain per key")
  }

  test("partitioned writes enable partition pruning at read time") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    graft.engine.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").mode("overwrite").parquet(out)
    val pruned = spark.read.parquet(out)
      .filter(col("event_date") === "2024-01-05")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("event_date"), s"expected partition pruning in:\n$scan")
    assert(pruned.count() > 0)
    // pruned scan must touch strictly fewer files than the full scan
    // (inputFiles is relation-level; input_file_name() sees the scan)
    val prunedFiles = pruned.select(input_file_name()).distinct().count()
    val allFiles = spark.read.parquet(out)
      .select(input_file_name()).distinct().count()
    assert(prunedFiles < allFiles, s"$prunedFiles files read vs $allFiles total")
  }

  test("bucketed tables co-locate the join (no shuffle exchange on either side)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-buckets")
    val o = graft.engine.Tables.orders(spark, "/root/testdata/sf0.001")
    val li = graft.engine.Tables.lineitem(spark, "/root/testdata/sf0.001")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/b_orders").saveAsTable("b_orders")
    li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/b_lineitem").saveAsTable("b_lineitem")
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join must not shuffle lineitem:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle orders:\n$plan")
    assert(joined.count() > 0)
  }
  test("Sql.registerTables caches per (session, sfDir) and re-registers on change") {
    val d001 = "/root/testdata/sf0.001"
    val d01 = "/root/testdata/sf0.01"
    graft.engine.Sql.registerTables(spark, d001)
    val n1 = spark.table("documents").count()
    // same dir: cached registration must keep serving the same views
    graft.engine.Sql.registerTables(spark, d001)
    assert(spark.table("documents").count() === n1)
    // different dir: must re-register, not serve stale views
    graft.engine.Sql.registerTables(spark, d01)
    val n2 = spark.table("documents").count()
    assert(n1 === 500L && n2 === 500L)
    assert(spark.table("lineitem").count() !==
      graft.engine.Sql.query(spark, d001, "SELECT COUNT(*) c FROM lineitem")
        .collect().head.getLong(0))
  }

}
