package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Relational

object SparkTestSession {
  lazy val spark: SparkSession = graft.engine.Session()
}

class RelationalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("every relational query runs and has stable row counts across reruns") {
    Relational.defs.foreach { d =>
      val df1 = d.fn(spark, dir)
      val n1 = df1.count()
      val n2 = d.fn(spark, dir).count()
      assert(n1 === n2, s"${d.name} nondeterministic count")
    }
  }

  test("q01 groups by returnflag/linestatus with exact sums") {
    val rows = Relational.defs.find(_.name == "q01_pricing_summary").get
      .fn(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 6)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total > 0)
    rows.foreach { r =>
      val sumQty = r.getAs[Double]("sum_qty")
      val avgQty = r.getAs[Double]("avg_qty")
      val n = r.getAs[Long]("count_order")
      assert(math.abs(sumQty / n - avgQty) < 1e-9)
    }
  }

  test("q06 emits at most 3 ranked orders per customer") {
    val df = Relational.defs.find(_.name == "q06_order_rank").get.fn(spark, dir)
    assert(df.filter(org.apache.spark.sql.functions.col("rk") > 3).count() === 0L)
    val perCust = df.groupBy("o_custkey").count()
    assert(perCust.filter(org.apache.spark.sql.functions.col("count") > 3).count() === 0L)
  }

  test("q08 EXCEPT result is distinct and disjoint from lineitem keys") {
    import org.apache.spark.sql.functions.col
    val res = Relational.defs.find(_.name == "q08_setop_except").get.fn(spark, dir)
    assert(res.count() === res.distinct().count())
    val li = graft.engine.Tables.lineitem(spark, dir)
    assert(res.join(li, res("orderkey") === li("l_orderkey")).count() === 0L)
  }

  test("oracleSql exists for every relational query with matching name") {
    val names = Relational.defs.map(_.name).toSet
    assert(Relational.defs.forall(_.oracle.isDefined))
    assert(SparkEntry.oracleSql.keySet.intersect(names) === names)
  }
}
