package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage 3 of the reference pipeline: NLP preprocessing
  * (reference transform/execute.py:175-236; SURVEY.md §2.8 N1-N6).
  *
  * The reference uses the third-party spark-nlp pipeline
  * (DocumentAssembler → Tokenizer → Normalizer → Lemmatizer →
  * StopWordsCleaner → Finisher). Re-expressed here as ONE projection
  * of native Catalyst higher-order functions — tokenize, normalize,
  * lemmatize (custom codegen expression) and stop-word filter fuse
  * into a single whole-stage-codegen pass with no extra scan, no
  * model fit, no shuffle. At 100 TB this is a map-only stage.
  */
object TextPrep {

  /** Same default English stop-word list MLlib's StopWordsRemover
    * ships (case-insensitive match; tokens are lowercased upstream). */
  val stopWords: Seq[String] =
    org.apache.spark.ml.feature.StopWordsRemover.loadDefaultStopWords("english").toSeq

  /** tags (array<string>) → tags_lemmatized (array<string>):
    * join → blank-filter → tokenize → lowercase+strip non-alnum →
    * drop empties → lemmatize → stop-word filter. */
  def prepare(spark: SparkSession, df: DataFrame): DataFrame = {
    val stops = typedLit(stopWords)
    df.withColumn("tags_str", concat_ws(" ", col("tags")))
      .filter(trim(col("tags_str")) =!= "")
      .withColumn("tokens", split(col("tags_str"), "\\s+"))
      .withColumn("normalized",
        array_remove(
          transform(col("tokens"), x => regexp_replace(lower(x), "[^a-zA-Z0-9]", "")),
          ""))
      .withColumn("lemmas",
        transform(col("normalized"), x => TextFunctions.lemmatize(x)))
      .withColumn("tags_lemmatized",
        filter(col("lemmas"), x => !array_contains(stops, x)))
      .drop("tokens", "normalized", "lemmas")
  }
}
