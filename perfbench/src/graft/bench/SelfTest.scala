package graft.bench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Unit checks of the benchmark's own machinery. Prints one
  * `PASS <name>` or `FAIL <name>: <detail>` line per check, then one
  * JSON line with the declared metric names; exits non-zero if any
  * check failed. Run through `python3 perfbench/run.py --selftest`. */
object SelfTest {

  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (ok) println(s"PASS $name")
    else { failures += 1; println(s"FAIL $name: $detail") }

  def main(args: Array[String]): Unit = {
    val tmp = Files.createTempDirectory("perfbench-selftest")

    // ---- inputs are a function of the seed
    val spec = MovieGen.Spec(rows = 2000, seed = 7L)
    val m1 = MovieGen.write(spec, tmp.resolve("a"))
    val m2 = MovieGen.write(spec, tmp.resolve("b"))
    val m3 = MovieGen.write(spec.copy(seed = 8L), tmp.resolve("c"))
    check("same seed gives the same input digest", m1.digest == m2.digest,
      s"${m1.digest} vs ${m2.digest}")
    check("another seed gives another input digest", m1.digest != m3.digest)
    check("same seed gives the same request stream",
      MovieGen.requests(m1, 200, 7L, 0.1).sameElements(MovieGen.requests(m2, 200, 7L, 0.1)))
    val reqs = MovieGen.requests(m1, 1000, 7L, 0.1)
    val absent = reqs.count(id => java.util.Arrays.binarySearch(m1.droppedIds, id.toInt) >= 0)
    check("request stream holds the stated absent share", absent == 100, s"$absent of 1000")
    val top = reqs.groupBy(identity).values.map(_.length).max
    check("request popularity is skewed", top >= 50, s"most popular id drawn $top times")
    check("twins are planted and clean",
      m1.twins.size == MovieGen.twinPairs && m1.twins.forall { case (x, y) =>
        m1.cleanIds.contains(x) && m1.cleanIds.contains(y) })
    check("clean share is near the reference's 55%",
      math.abs(m1.cleanIds.length / 2000.0 - 0.55) < 0.08, s"${m1.cleanIds.length} of 2000")
    check("harness tables are the same on every call",
      HarnessGen.tables().map(_._3.hashCode) == HarnessGen.tables().map(_._3.hashCode))

    // ---- self time with overlapping children
    val spans = Seq(
      Span(1, "parent", 0, 100, 0, "r"),
      Span(2, "a", 10, 40, 1, "r"),
      Span(3, "b", 30, 60, 1, "r"), // overlaps a
      Span(4, "c", 90, 120, 1, "r"), // runs past its parent's end
      Span(5, "grandchild", 35, 50, 3, "r"))
    val self = Trace.selfTimes(spans)
    def ns(x: Double) = math.round(x * 1e9)
    check("self time subtracts the union of overlapping children",
      ns(self(1)) == 40, s"parent self ${ns(self(1))} ns, expected 40")
    check("self time subtracts only direct children",
      ns(self(3)) == 15 && ns(self(2)) == 30 && ns(self(5)) == 15,
      s"b=${ns(self(3))} a=${ns(self(2))} grandchild=${ns(self(5))}")

    // ---- the mix digest: order-insensitive, and a perturbed value fails
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", tmp.resolve("spark").toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val base = (1 to 500).map(i => (i.toLong, s"row$i", i * 0.5)).toDF("k", "s", "v")
      def digest(df: org.apache.spark.sql.DataFrame): (Long, String) = {
        val ex = Main.digestExprs(df)
        val r = df.agg(ex.head, ex.tail: _*).collect().head
        (r.getLong(0), f"${r.getLong(1)}%016x${r.getLong(2)}%016x")
      }
      val d0 = digest(base)
      check("digest ignores row order", digest(base.orderBy(desc("k")).repartition(3)) == d0)
      val perturbed = base.withColumn("v", when(col("k") === 250, col("v") + 1e-9).otherwise(col("v")))
      val expected = Map("q" -> d0)
      check("a perturbed result fails the digest check",
        !Main.matchesExpected("q", digest(perturbed), expected))
      check("an unperturbed result passes the digest check",
        Main.matchesExpected("q", d0, expected))
      check("a dropped row fails the digest check",
        !Main.matchesExpected("q", digest(base.filter(col("k") =!= 17)), expected))
    } finally spark.stop()

    // ---- metric names
    val names = Main.endToEnd ++ Main.perLayer
    val bad = names.filterNot(_.matches("[A-Za-z0-9_.-]+"))
    check("every metric name matches [A-Za-z0-9_.-]+", bad.isEmpty, bad.mkString(", "))
    check("metric names are unique", names.distinct.size == names.size)
    check("every metric name has a unit", names.forall(n => Main.unitOf(n).nonEmpty))

    def js(xs: Seq[String]) = xs.map(x => s""""$x"""").mkString("[", ", ", "]")
    println(s"""{"end_to_end": ${js(Main.endToEnd)}, "per_layer": ${js(Main.perLayer)}, """ +
      s""""units": {${names.map(n => s""""$n": "${Main.unitOf(n)}"""").mkString(", ")}}}""")
    Main.deleteTree(tmp)
    if (failures > 0) sys.exit(1)
  }
}
