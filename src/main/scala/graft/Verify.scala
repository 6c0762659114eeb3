package graft
import java.nio.file.{Files, Paths}

import graft.engine.Session
import graft.util.Json

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the optional names run a
    // subset for local iteration (the driver always passes exactly two)
    val sfDir = args(0)
    val outDir = args(1)
    val subset = args.drop(2).toSet
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // SEMI-oracle substitution: a query whose row SELECTION is
    // recall/seed-dependent but whose metric columns are exact (q33,
    // q43) declares SQL that re-reads the ids THIS run emitted (the
    // parquet written above) and recomputes the metric from the source
    // tables — `__GRAFT_OUT__` becomes the absolute dump dir here, so
    // the driver's DuckDB run hash-checks every emitted metric value.
    // The path lands inside single-quoted SQL string literals, so a
    // quote in it must double (fails closed either way, but with a
    // clear value instead of a DuckDB parse error).
    val absOut = Paths.get(outDir).toAbsolutePath.toString.replace("'", "''")
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => subset.isEmpty || subset(k) }
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v.replace("__GRAFT_OUT__", absOut))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (subset.nonEmpty) { spark.stop(); return } // local iteration: skip self-checks
    // per-round self-checks for the no-oracle queries (q30/q35/q54/q67
    // structural+exact-twin invariants, q33/q43 selection invariants)
    // — the driver's artifact then records a concrete pass/fail beside
    // each `no_oracle` row instead of a silent gap
    try Files.writeString(Paths.get(s"$outDir/self_checks.json"),
      SelfChecks.toJson(SelfChecks.run(spark, sfDir, outDir)))
    catch { case e: Throwable =>
      System.err.println(s"[verify] self-checks failed to run: ${e.getMessage}")
      Files.writeString(Paths.get(s"$outDir/self_checks.json"),
        s"""{"error": "self-checks crashed: ${e.getClass.getSimpleName}"}""")
    }
    spark.stop()
  }
}
