package graft

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Session
import graft.ops.Dedup
import graft.text.{Lemmatizer, TextFunctions, TextPrep}

class LemmatizerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("suffix rules") {
    assert(Lemmatizer.lemma("cats") === "cat")
    assert(Lemmatizer.lemma("flies") === "fly")
    assert(Lemmatizer.lemma("boxes") === "box")
    assert(Lemmatizer.lemma("classes") === "class")
    assert(Lemmatizer.lemma("running") === "run")
    assert(Lemmatizer.lemma("walked") === "walk")
    assert(Lemmatizer.lemma("tried") === "try")
    assert(Lemmatizer.lemma("bigger") === "big")
    assert(Lemmatizer.lemma("discovers") === "discover")
    assert(Lemmatizer.lemma("quickly") === "quick")
  }

  test("irregulars") {
    assert(Lemmatizer.lemma("was") === "be")
    assert(Lemmatizer.lemma("children") === "child")
    assert(Lemmatizer.lemma("said") === "say")
    assert(Lemmatizer.lemma("wrote") === "write")
  }

  test("short tokens and nulls pass through") {
    assert(Lemmatizer.lemma("ab") === "ab")
    assert(Lemmatizer.lemma("") === "")
    assert(Lemmatizer.lemma(null) === null)
  }

  test("deterministic and total on arbitrary alphanumeric tokens") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val s = rnd.alphanumeric.take(rnd.nextInt(12)).mkString.toLowerCase
      assert(Lemmatizer.lemma(s) === Lemmatizer.lemma(s))
      assert(Lemmatizer.lemma(s) != null)
    }
  }

  test("catalyst expression matches the pure function (codegen path)") {
    import spark.implicits._
    val words = Seq("cats", "running", "was", "movies", "x", "spell")
    val got = words.toDF("w")
      .select(TextFunctions.lemmatize(col("w")).as("l"))
      .collect().map(_.getString(0)).toSeq
    assert(got === words.map(Lemmatizer.lemma))

    // A plain session without GraftExtensions (the benchmark harness
    // builds one) must give the same rows: the column API builds its
    // expressions directly instead of naming a SQL function.
    val plain = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try SparkSession.builder().getOrCreate()
      finally {
        SparkSession.setActiveSession(spark)
        SparkSession.setDefaultSession(spark)
      }
    }
    assert(plain ne spark)
    intercept[AnalysisException](plain.sql("SELECT graft_lemmatize('x')").collect())
    def rows(s: SparkSession): (Seq[Row], Seq[Row]) = {
      val tags = s.createDataFrame(Seq((1L, Seq("Running", "cats!")),
        (2L, Seq("the", "Children")), (3L, Seq("  "))))
        .toDF("id", "tags")
      val docs = s.createDataFrame(Seq((0L, "the cat sat"), (1L, "the cat sat"),
        (2L, "dogs were running home"))).toDF("doc_id", "text")
      (TextPrep.prepare(s, tags).orderBy("id").collect().toSeq,
        Dedup.simhashSignatures(docs).orderBy("doc_id").collect().toSeq)
    }
    val (prepped, sigs) = rows(spark)
    assert(prepped.map(r => r.getSeq[String](r.fieldIndex("tags_lemmatized"))) ===
      Seq(Seq("run", "cat"), Seq("child")))
    assert(rows(plain) === (prepped, sigs))
  }

  test("expression usable from SQL after registration") {
    // every program and test session comes from engine.Session, whose
    // extensions register the SQL names; nothing else registers them
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.sparkContext.master === s"local[${Session.cpus}]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === Session.cpus.toString)
    val r = spark.sql("SELECT graft_lemmatize('testing') AS l").collect().head
    assert(r.getString(0) === "test")
  }
}
