package graft.bench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the engine's harness tables the mix reads (the
  * TPC-H-like star schema without part/supplier, plus `documents`), in
  * the column layout of the battery's harness. The mix checks its
  * results against digests committed with the benchmark, so these
  * tables are always generated from the fixed `dataSeed`, never from
  * the run's `--seed`.
  *
  * `documents` mixes random token texts with near-duplicate variants
  * (a few edited characters), so text operators see realistic repeats.
  */
object HarnessGen {

  val dataSeed: Long = 42L

  private val customers = 600
  private val orderCount = 6000
  private val lineitemsPerOrder = 4
  private val parts = 200
  private val suppliers = 20
  private val documentCount = 300

  private val words = Seq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line",
    "sort", "window", "join", "small", "big", "customer", "query", "order",
    "stream", "filter", "group", "column", "data", "a", "the", "of")
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val day = 86400000L
  private val epoch1992 = 694224000000L

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  /** Rows of every table, in name order. Pure: every call gives the same rows. */
  def tables(): Seq[(String, StructType, Seq[Row])] = {
    val r = new SplittableRandom(dataSeed)
    def money(max: Int): Double = (r.nextInt(max * 100) / 100.0)
    val region = regions.indices.map(i => Row(i, regions(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until customers).map(i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(10000),
        Seq("HOUSEHOLD", "MACHINERY", "BUILDING", "AUTOMOBILE", "FURNITURE")(r.nextInt(5))))
    val orders = (0 until orderCount).map { i =>
      Row(i.toLong, r.nextInt(customers).toLong, Seq("F", "O", "P")(r.nextInt(3)),
        money(500000), new Timestamp(epoch1992 + r.nextInt(2400) * day),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)))
    }
    val lineitem = orders.flatMap { o =>
      val ok = o.getLong(0)
      val od = o.getAs[Timestamp](4).getTime
      (1 to 1 + r.nextInt(2 * lineitemsPerOrder - 1)).map { ln =>
        Row(ok, r.nextInt(parts).toLong, r.nextInt(suppliers).toLong, ln,
          (1 + r.nextInt(50)).toDouble, money(100000), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          new Timestamp(od + (1 + r.nextInt(120)) * day))
      }
    }
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val documents = (0 until documentCount).map { i =>
      val text =
        if (texts.nonEmpty && r.nextInt(6) == 0) {
          // near-duplicate: a few single-character edits of an earlier doc
          val sb = new StringBuilder(texts(r.nextInt(texts.size)))
          (0 until 1 + r.nextInt(4)).foreach { _ =>
            sb.setCharAt(r.nextInt(sb.length), "aeiouxyz".charAt(r.nextInt(8)))
          }
          sb.toString
        } else Seq.fill(12 + r.nextInt(30))(words(r.nextInt(words.size))).mkString(" ")
      texts += text
      Row(i.toLong, text, Seq("en", "de", "fr")(r.nextInt(3)), s"src${r.nextInt(4)}",
        text.length.toLong)
    }
    Seq(
      ("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      ("documents", schema("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType), documents),
      ("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType), lineitem),
      ("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType), orders),
      ("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType), region))
  }

  /** Write every table as `<dir>/<name>.parquet` (one file each, like
    * the harness layout); the six single-task writes run concurrently. */
  def write(spark: SparkSession, dir: String): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes = tables().map { case (name, sch, rows) =>
      Future(spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    }
    writes.foreach(Await.result(_, Duration.Inf))
  }
}
