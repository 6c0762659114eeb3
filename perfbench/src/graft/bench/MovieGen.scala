package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded movie-CSV generator for the benchmark (same 16-column shape
  * as the reference input: the 14 columns the pipeline keeps plus two
  * it must drop).
  *
  * Every row is decided up front, so the generator also knows the
  * answer the pipeline must reach:
  *   - which ids survive cleaning (`cleanIds`): rows are dropped only by
  *     rules whose outcome does not depend on Spark's choices — a null
  *     `poster_path`, a null `title`, an `"[]"` keyword list, or a
  *     byte-identical duplicate of an earlier row;
  *   - planted twins: pairs of distinct ids whose text fields are
  *     identical, so their vectors are identical and each must be the
  *     other's top neighbour;
  *   - a request stream with skewed popularity (Zipf over a seeded
  *     permutation of the clean ids) plus a fixed share of ids that are
  *     known to be absent from the output.
  *
  * The CSV carries the reference's quirks: a quoted multi-line
  * overview, quoted commas, leading whitespace and inferred numeric
  * types (`revenue` exceeds the int range, `release_year` is a
  * double).
  */
object MovieGen {

  final case class Spec(rows: Int, seed: Long)

  final case class Movies(
      csvDir: Path,
      cleanIds: Array[Int],
      droppedIds: Array[Int],
      twins: Seq[(Int, Int)],
      digest: String)

  val twinPairs = 4
  private val overviewVocab = 2500
  private val keywordVocab = 800

  val header: String =
    "id,title,revenue,budget,overview,poster_path,production_companies," +
      "release_year,Director,Star1,Star2,Star3,genres_list,all_combined_keywords," +
      "extra_col_a,extra_col_b"

  private val genres = Seq("Drama", "Comedy", "Action", "Thriller", "Romance",
    "Horror", "Fantasy", "Adventure", "Animation", "Documentary", "Crime",
    "Mystery", "Family", "War", "Western", "Music")
  private val syllables = Seq("ka", "lo", "mi", "ra", "ten", "vo", "shi",
    "pan", "dor", "el", "qua", "zu", "bri", "nex", "tor", "fa", "gal", "ome")

  private def word(i: Int, prefix: String): String = {
    val sb = new StringBuilder(prefix)
    var x = i
    do { sb.append(syllables(x % syllables.length)); x /= syllables.length } while (x > 0)
    sb.toString
  }

  /** Zipf(s = 1.1) rank in [0, n) by inverse CDF over a precomputed table. */
  final class Zipf(n: Int, s: Double = 1.1) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def quote(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  private final case class Fields(title: String, overview: String,
      companies: Option[String], year: Int, director: String,
      stars: Seq[Option[String]], genres: Seq[String], keywords: Seq[String])

  private def line(id: Int, f: Fields, revenue: Long, budget: Int,
      poster: Option[String], nullTitle: Boolean, emptyKeywords: Boolean,
      leadingSpace: Boolean): String = {
    val kw = if (emptyKeywords) "[]" else f.keywords.mkString("['", "', '", "']")
    Seq(
      (if (leadingSpace) "  " else "") + id.toString,
      if (nullTitle) "" else quote(f.title),
      revenue.toString,
      budget.toString,
      quote(f.overview),
      poster.getOrElse(""),
      f.companies.map(quote).getOrElse(""),
      s"${f.year}.0",
      quote(f.director),
      f.stars(0).map(quote).getOrElse(""),
      f.stars(1).map(quote).getOrElse(""),
      f.stars(2).map(quote).getOrElse(""),
      quote(f.genres.mkString("['", "', '", "']")),
      quote(kw),
      "x", "y").mkString(",")
  }

  /** Write `spec.rows` raw rows as one CSV file under `dir` and return
    * what the pipeline must produce from them. */
  def write(spec: Spec, dir: Path): Movies = {
    require(spec.rows >= 100, "at least 100 rows")
    val r = new SplittableRandom(spec.seed)
    val ovZipf = new Zipf(overviewVocab)
    val kwZipf = new Zipf(keywordVocab)
    val nameZipf = new Zipf(600)
    def person(): String =
      s"${word(nameZipf.draw(r), "Fi")} ${word(nameZipf.draw(r), "La")}"
    def fields(): Fields = {
      val nWords = 10 + r.nextInt(8)
      val words = Array.fill(nWords)(word(ovZipf.draw(r), ""))
      // a comma inside the quoted overview becomes an array split point
      if (r.nextInt(4) == 0) words(nWords / 2) = words(nWords / 2) + ","
      // one in 50 overviews spans two physical lines (multiLine CSV)
      val overview =
        if (r.nextInt(50) == 0) words.take(3).mkString(" ") + "\n" + words.drop(3).mkString(" ")
        else words.mkString(" ")
      Fields(
        title = s"${word(ovZipf.draw(r), "")} ${word(r.nextInt(5000), "T")}",
        overview = overview,
        companies = if (r.nextInt(40) == 0) None else Some(s"${word(r.nextInt(300), "Stu")} Pictures"),
        year = 1950 + r.nextInt(75),
        director = if (r.nextInt(10) == 0) s"${person()},${person()}" else person(),
        stars = Seq.fill(3)(if (r.nextInt(30) == 0) None else Some(person())),
        genres = Seq.fill(1 + r.nextInt(3))(genres(r.nextInt(genres.length))).distinct,
        keywords = Seq.fill(2 + r.nextInt(4))(word(kwZipf.draw(r), "kw")).distinct)
    }

    val out = new java.lang.StringBuilder(spec.rows * 260)
    out.append(header).append('\n')
    val clean = Array.newBuilder[Int]
    val dropped = Array.newBuilder[Int]
    val twins = Seq.newBuilder[(Int, Int)]
    val emitted = new scala.collection.mutable.ArrayBuffer[String]()
    // ids are sparse (stride 3 with a seeded offset), so an absent id
    // is not simply "one past the end"
    var nextId = 1 + r.nextInt(3)
    def freshId(): Int = { val id = nextId; nextId += 3; id }
    var twinsLeft = twinPairs
    var i = 0
    while (i < spec.rows) {
      val kind = r.nextInt(100)
      if (kind < 8 && emitted.nonEmpty) {
        // byte-identical duplicate of an earlier row: removed by dedup
        out.append(emitted(r.nextInt(emitted.size))).append('\n')
        i += 1
      } else if (twinsLeft > 0 && i >= spec.rows / 4 && kind < 20 && i + 1 < spec.rows) {
        val f = fields().copy(title = s"Twin ${word(twinsLeft, "Sa")} ${word(twinsLeft, "Ga")}")
        val (a, b) = (freshId(), freshId())
        Seq(a, b).foreach { id =>
          val l = line(id, f, 1000000L + id, 50000 + id, Some(s"/p/$id.jpg"),
            nullTitle = false, emptyKeywords = false, leadingSpace = false)
          out.append(l).append('\n'); emitted += l
          clean += id
        }
        twins += ((a, b))
        twinsLeft -= 1
        i += 2
      } else {
        val id = freshId()
        val f = fields()
        val nullPoster = kind >= 8 && kind < 33
        val nullTitle = kind >= 33 && kind < 36
        val emptyKw = kind >= 36 && kind < 41
        val l = line(id, f,
          revenue = if (r.nextInt(5) == 0) 0L else r.nextLong(5000000000L),
          budget = r.nextInt(200000000),
          poster = if (nullPoster) None else Some(s"/p/$id.jpg"),
          nullTitle = nullTitle, emptyKeywords = emptyKw,
          leadingSpace = r.nextInt(20) == 0)
        out.append(l).append('\n'); emitted += l
        if (nullPoster || nullTitle || emptyKw) dropped += id else clean += id
        i += 1
      }
    }
    Files.createDirectories(dir)
    val bytes = out.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(dir.resolve("movies.csv"), bytes)
    val md = MessageDigest.getInstance("SHA-256").digest(bytes)
    Movies(dir, clean.result().sorted, dropped.result().sorted,
      twins.result(), md.take(8).map("%02x".format(_)).mkString)
  }

  /** Closed-loop request ids: `n` draws, `absentShare` of them from the
    * dropped ids (absent from every stage), the rest Zipf-skewed over a
    * seeded permutation of the clean ids. */
  def requests(m: Movies, n: Int, seed: Long, absentShare: Double): Array[Long] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val perm = m.cleanIds.clone()
    var k = perm.length - 1
    while (k > 0) {
      val j = r.nextInt(k + 1); val t = perm(k); perm(k) = perm(j); perm(j) = t; k -= 1
    }
    val zipf = new Zipf(perm.length, 1.0)
    val nAbsent = math.round(n * absentShare).toInt
    val ids = Array.tabulate[Long](n) { q =>
      if (q < nAbsent) m.droppedIds(r.nextInt(m.droppedIds.length)).toLong
      else perm(zipf.draw(r)).toLong
    }
    // interleave the absent ids through the stream
    var s = ids.length - 1
    while (s > 0) {
      val j = r.nextInt(s + 1); val t = ids(s); ids(s) = ids(j); ids(j) = t; s -= 1
    }
    ids
  }
}
