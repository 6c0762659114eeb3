package graft

import graft.engine.Session
import graft.etl.MoviePipeline
import graft.ml.Recommender
import graft.util.Timing

/** CLI twin of the reference's transform entry point
  * (`python3 transform/execute.py <input_csv> <output_dir>`,
  * reference transform/execute.py:301-331): read → clean → featurize →
  * NLP → TF-IDF → LSH → staged parquet writes, with stage logging and
  * wall-clock in the reference's format_time style.
  *
  * Usage: runMain graft.MoviePipelineCli <input_csv> <output_dir> [id [k]]
  * The optional id runs a recommendation query against the freshly
  * built index (the notebook's get_recommendations check).
  */
object MoviePipelineCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MoviePipelineCli <input_csv> <output_dir> [id [k]]")
    val Array(input, output) = args.take(2)
    val spark = Session()

    val (_, secs) = Timing.timed {
      val raw = MoviePipeline.readCsv(spark, input)
      val result = MoviePipeline.run(spark, raw)
      MoviePipeline.save(result, output)
      println(s"[pipeline] cleaned rows: ${result.movies.count()}")
      args.lift(2).map(_.toLong).foreach { id =>
        val k = args.lift(3).map(_.toInt).getOrElse(5)
        val recs = Recommender.recommend(result.lshModel, result.movies, "id", id, k)
        println(s"[pipeline] recommendations($id, $k) = ${recs.mkString(", ")}")
      }
    }
    println(s"[pipeline] total time: ${Timing.formatTime(secs)}")
    spark.stop()
  }
}
