package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.engine.Session
import graft.etl.MoviePipeline
import graft.ml.Recommender
import graft.util.Timing
import graft.Scaling.fixed

/** End-to-end single-node benchmark at the reference's data scale.
  *
  * The reference processed a 1,072,255-row movie CSV through
  * load → clean → NLP → TF-IDF → LSH → 4 writes → 3 ANN queries in
  * ≈ 13 min 37 s (817 s) on one machine (BASELINE.md). This main
  * generates a deterministic movie-like CSV of the same row count
  * (~56% clean-stage survival and a 6-figure vocabulary, mirroring the
  * reference's measured shape), writes it as ONE file, reads it back
  * with the same multiLine+inferSchema options (both single-threaded
  * passes, like the reference), runs the full pipeline + staged saves
  * + 3 recommendation queries, and prints one JSON line of stage
  * timings.
  *
  * Caveats vs the reference run: our CSV has 16 columns (the 14 the
  * pipeline touches + 2 dropped), the reference's had 42; text is
  * synthetic. Row count, survival rate, vocabulary scale and the
  * pipeline stages match.
  */
object E2EBench {

  def generate(spark: SparkSession, rows: Long, path: String): Unit = {
    def w(seed: Int, mod: Int, prefix: String) =
      concat(lit(prefix), pmod(xxhash64(col("id") * seed), lit(mod)))
    // 12-word overview from a 30k vocabulary; names add ~90k more terms
    val overview = concat_ws(" ", (0 until 12).map(i =>
      w(13 + i, 30000, "word")): _*)
    val keywords = concat(lit("['"),
      concat_ws("', '", (0 until 4).map(i => w(101 + i, 30000, "kw")): _*),
      lit("']"))
    val name = (s1: Int, s2: Int) =>
      concat(w(s1, 300, "First"), lit(" "), w(s2, 300, "Last"))
    val df = spark.range(rows).select(
      col("id"),
      concat(lit("Movie number "), col("id")).as("title"),
      pmod(xxhash64(col("id") * 3), lit(1000000000L)).as("revenue"),
      pmod(xxhash64(col("id") * 5), lit(200000000L)).cast("int").as("budget"),
      overview.as("overview"),
      // ~44% null poster_path → clean-stage survival ≈ reference's 56%
      when(pmod(col("id"), lit(9)) < 4, lit(null).cast("string"))
        .otherwise(concat(lit("/poster/"), col("id"))).as("poster_path"),
      when(pmod(col("id"), lit(50)) === 0, lit(null).cast("string"))
        .otherwise(w(7, 500, "Studio")).as("production_companies"),
      (lit(1950) + pmod(col("id"), lit(75))).cast("double").as("release_year"),
      name(17, 19).as("Director"),
      when(pmod(col("id"), lit(40)) === 0, lit(null).cast("string"))
        .otherwise(name(23, 29)).as("Star1"),
      name(31, 37).as("Star2"),
      name(41, 43).as("Star3"),
      concat(lit("['"), w(47, 20, "Genre"), lit("', '"), w(53, 20, "Genre"), lit("']"))
        .as("genres_list"),
      // ~3% "[]" keyword rows get filtered like the reference
      when(pmod(col("id"), lit(33)) === 0, lit("[]")).otherwise(keywords)
        .as("all_combined_keywords"),
      lit("x").as("extra_col_a"),
      lit("y").as("extra_col_b"))
    // ONE file, like the reference's single multiLine CSV
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", true).option("quoteAll", false)
      .csv(path)
  }

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(1072255L)
    val work = args.lift(1).getOrElse("/tmp/graft_e2e")
    val spark = Session()

    val (_, genS) = Timing.timed(generate(spark, rows, s"$work/csv"))

    val ((result, nClean), pipeS) = Timing.timed {
      val raw = MoviePipeline.readCsv(spark, s"$work/csv")
      val r = MoviePipeline.run(spark, raw)
      val n = r.movies.cache().count() // materialize like the reference's writes do
      MoviePipeline.save(r, s"$work/stages")
      (r, n)
    }

    val (recs, querS) = Timing.timed {
      Seq(1L, 671L, 900005L).map { id =>
        id -> Recommender.recommend(result.lshModel, result.movies, "id", id, 5)
      }
    }
    recs.foreach { case (id, r) => println(s"recs($id) = $r") }

    val total = genS + pipeS + querS
    println(compact(render(
      ("metric" -> "e2e_movie_pipeline") ~ ("rows" -> rows) ~ ("cleaned_rows" -> nClean) ~
        ("gen_s" -> fixed(genS, 1)) ~ ("pipeline_s" -> fixed(pipeS, 1)) ~
        ("queries_s" -> fixed(querS, 1)) ~ ("total_s" -> fixed(total, 1)) ~
        ("reference_e2e_s" -> 817))))
    spark.stop()
  }
}
