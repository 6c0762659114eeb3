package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.linalg.{SparseVector, Vector}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{LoadPipeline, MovieClean, MovieFeatures, MoviePipeline}
import graft.io.JdbcSink
import graft.ml.{Recommender, Vectorize}
import graft.text.TextPrep

/** The repo benchmark. Every run drives the whole system the way its
  * users do — the batch job (CSV → 4 parquet stages → Derby), a
  * closed-loop recommendation client, and the engine's query mix — and
  * the workload decides which part fills the timed window:
  *
  *   etl_batch        batch passes repeat; 20 requests; three mix passes
  *   recommend_serve  one batch pass; requests repeat; three mix passes
  *
  * So every end-to-end metric is measured in every workload, and each
  * workload puts most of its time on different layers. Outputs are
  * checked as they are produced; each failed check counts as a failed
  * operation. The last stdout line is the result JSON.
  */
object Main {

  final case class Workload(name: String, csvRows: Int, focus: String,
      requests: Int, minFocus: Int)

  val workloads: Map[String, Workload] = Seq(
    Workload("etl_batch", csvRows = 5000, focus = "etl", requests = 20, minFocus = 2),
    Workload("recommend_serve", csvRows = 4000, focus = "serve", requests = 0, minFocus = 45)
  ).map(w => w.name -> w).toMap

  /** The engine queries of the mix: a five-table join with broadcast
    * dimensions, a window query, and the interval join planned by
    * `plans.RangeJoinRule`. */
  val mixQueries: Seq[String] = Seq(
    "q05_regional_revenue", "q40_window_analytics", "q60_range_join")

  /** Metric names, in BENCHMARK.json order. A run whose metrics differ
    * from these fails instead of printing a result. */
  val endToEnd: Seq[String] = Seq("setup_s", "etl_wall_s", "stage_mb",
    "recommend_p50_ms", "recommend_p90_ms", "recommend_qps",
    "recommend_recall_at_5", "mix_total_s", "peak_storage_mb")

  val perLayer: Seq[String] = Seq(
    "io.csv_read.s", "io.csv_read.cpu_s", "io.csv_read.tasks",
    "etl.clean.s", "etl.clean.cpu_s", "etl.clean.shuffle_mb",
    "etl.featurize.s", "etl.featurize.cpu_s",
    "text.prepare.s", "text.prepare.cpu_s", "text.prepare.tasks",
    "ml.vectorize.s", "ml.vectorize.cpu_s", "ml.vectorize.jobs", "ml.vectorize.shuffle_mb",
    "ml.lsh_fit.s",
    "io.parquet_write.s", "io.parquet_write.mb",
    "io.jdbc_load.s", "io.jdbc_load.tables_failed",
    "io.model_load.s",
    "ml.lookup_vector.p50_ms", "ml.neighbors.p50_ms",
    "ml.recommend.jobs_per_req", "ml.recommend.tasks_per_req",
    "ml.recommend.rows_read_per_req", "ml.recommend.cpu_ms_per_req",
    "ml.recommend.gc_ms_per_req") ++
    mixQueries.flatMap(q => Seq("s", "cpu_s", "shuffle_mb", "scans", "exchanges", "swept_rdds")
      .map(f => s"q.$q.$f")) ++
    Seq("trace_overhead_s", "failed_frac", "noise.cpus", "noise.steal_pct", "noise.loadavg_1m")

  def matchesExpected(name: String, got: (Long, String),
      expected: Map[String, (Long, String)]): Boolean =
    expected.get(name).contains(got)

  val topK = 5
  val absentShare = 0.1
  val setupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, corrupt: String, recordExpected: Option[Path],
      expected: Option[Path])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.get("trace").contains("1"), Paths.get(m("work")).toAbsolutePath,
      m.getOrElse("corrupt", ""), m.get("record-expected").map(Paths.get(_)),
      m.get("expected").map(Paths.get(_)))
  }

  // ------------------------------------------------------------ helpers

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  /** (steal jiffies, total jiffies) from the aggregate cpu line. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  def loadAvg1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Order-insensitive digest columns of a result: row count, a sum of
    * per-row hashes reduced mod a prime, and their xor. */
  def digestExprs(df: DataFrame) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    Seq(count(lit(1)).as("rows"), sum(pmod(h, lit(1000000007L))).as("hsum"),
      bit_xor(h).as("hxor"))
  }

  // ------------------------------------------------------------ the run

  final class Run(spark: SparkSession, a: Args) {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, a.trace)
    val storage = new StorageListener
    sc.addSparkListener(storage)
    if (a.trace) {
      sc.addSparkListener(tracer.listener)
      spark.listenerManager.register(tracer.queryListener)
    }
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Boolean = synchronized {
      attempted += 1
      if (!ok) { failed += 1; failures += what; System.err.println(s"[bench] CHECK FAILED: $what") }
      ok
    }
    val derbyProps = {
      val p = JdbcSink.connectionProps("", "", "org.apache.derby.jdbc.EmbeddedDriver")
      p.setProperty("truncate", "true")
      p
    }
    private var derbySeq = 0
    def freshDerbyUrl(tag: String): String = { derbySeq += 1; s"jdbc:derby:memory:${tag}_$derbySeq" }
    def dropDerby(url: String): Unit =
      try java.sql.DriverManager.getConnection(url.replace(";create=true", "") + ";drop=true")
      catch { case _: java.sql.SQLException => () } // a successful drop reports as an exception

    /** Persist-and-force a lazy layer's output, only when tracing: the
      * layer's span then holds its own work, not its consumers'. */
    def force(df: DataFrame): DataFrame =
      if (!tracer.enabled) df
      else { val c = df.persist(); c.write.format("noop").mode(SaveMode.Overwrite).save(); c }

    /** Collect the previous step's garbage outside the timed window, so a
      * timed step does not pay for the one before it. */
    def settle(): Unit = System.gc()

    def release(): Int = {
      spark.catalog.clearCache()
      val left = sc.getPersistentRDDs
      left.values.foreach(_.unpersist(blocking = true))
      left.size
    }

    // ---------------------------------------------------------- batch

    final case class EtlPass(wall: Double, stagesDir: Path, stageBytes: Long,
        tablesFailed: Int)

    /** The reference job: CSV → clean → featurize → text prep →
      * TF-IDF → LSH fit → 4 stage writes → Derby load of both tables. */
    def etlPass(movies: MovieGen.Movies, out: Path, tag: String): EtlPass = {
      deleteTree(out)
      val url = freshDerbyUrl("etl") + ";create=true"
      val csv = movies.csvDir.resolve("movies.csv").toString
      settle()
      val (loads, wall) = timed {
        tracer.span("etl.pass", tag) {
          val raw = tracer.span("io.csv_read", tag)(force(MoviePipeline.readCsv(spark, csv)))
          val cleaned = tracer.span("etl.clean", tag)(force(MovieClean.clean(raw)))
          val featured = tracer.span("etl.featurize", tag)(force(MovieFeatures.featurize(cleaned)))
          val prepped = tracer.span("text.prepare", tag)(force(TextPrep.prepare(spark, featured)))
          val vectorized = tracer.span("ml.vectorize", tag)(force(Vectorize(prepped)._2))
          val model = tracer.span("ml.lsh_fit", tag)(Recommender.fit(vectorized))
          tracer.span("io.parquet_write", tag)(
            MoviePipeline.save(MoviePipeline.Result(vectorized, model), out.toString))
          tracer.span("io.jdbc_load", tag) {
            LoadPipeline.run(spark, out.toString, typeFor = JdbcSink.derbyType,
              ifNotExists = false)(
              ddl => JdbcSink.ensureTable(url, derbyProps, ddl),
              (df: DataFrame, table: String, mode: SaveMode) =>
                JdbcSink.write(df, url, table, derbyProps, mode))
          }
        }
      }
      release()
      // ---- checks (outside the timed window)
      val n = movies.cleanIds.length.toLong
      val counts = Seq("stage1/movie_metadata", "stage3/master_table", "stage4/vector")
        .map(s => s -> spark.read.parquet(s"$out/$s").count())
      val corruptN = if (a.corrupt == "etl") 1L else 0L
      counts.foreach { case (s, c) =>
        check(c - corruptN == n, s"$tag $s has ${c - corruptN} rows, expected $n") }
      // Known defect: Derby cannot take master_table's array<string>
      // column. It is reported as io.jdbc_load.tables_failed, not as a
      // failed operation; any other load failure fails the check.
      val knownDefect = "Can't get JDBC type for array<string>"
      val tablesFailed = loads.count(_.error.nonEmpty)
      loads.foreach { l =>
        check(l.error.forall(_.contains(knownDefect)), s"$tag load ${l.table}: ${l.error}")
        if (l.error.isEmpty) {
          val c = spark.read.jdbc(url.replace(";create=true", ""), l.table, derbyProps).count()
          check(c == n, s"$tag Derby ${l.table} has $c rows, expected $n")
        }
      }
      dropDerby(url)
      EtlPass(wall, out, dirBytes(out), tablesFailed)
    }

    // ---------------------------------------------------------- serving

    final case class Served(latMs: Seq[Double], lookupMs: Seq[Double],
        neighborsMs: Seq[Double], recall: Seq[Double])

    /** Driver copy of every stored vector, for the exact top-k and the
      * distance-order check (built outside any timed window). */
    final class Exact(vectorsDf: DataFrame) {
      val vecs: Map[Long, SparseVector] = vectorsDf.select(col("id").cast("long"), col("norm_features"))
        .collect().map(r => r.getLong(0) -> r.getAs[Vector](1).toSparse).toMap
      private val all = vecs.toArray
      def dot(x: SparseVector, y: SparseVector): Double = {
        var i = 0; var j = 0; var s = 0.0
        while (i < x.indices.length && j < y.indices.length) {
          val a = x.indices(i); val b = y.indices(j)
          if (a == b) { s += x.values(i) * y.values(j); i += 1; j += 1 }
          else if (a < b) i += 1 else j += 1
        }
        s
      }
      def dist(a: Long, b: Long): Double =
        math.sqrt(math.max(0.0, 2.0 - 2.0 * dot(vecs(a), vecs(b))))
      /** Cosine of the k-th best other vector (ties make the set fuzzy,
        * so recall counts any returned id scoring at least this). */
      def kthCos(id: Long, k: Int): Double = {
        val q = vecs(id)
        val cs = all.iterator.filter(_._1 != id).map(e => dot(q, e._2)).toArray.sorted
        if (cs.length >= k) cs(cs.length - k) else Double.NegativeInfinity
      }
    }

    def serve(stages: Path, ids: Seq[Long], movies: MovieGen.Movies, tag: String,
        minRequests: Int, windowS: Double): Served = {
      val (model, vectors) = tracer.span("io.model_load", tag) {
        (Recommender.load(s"$stages/stage2/lsh_model"),
          spark.read.parquet(s"$stages/stage4/vector"))
      }
      val exact = new Exact(vectors)
      // unit L2 norm of every stored vector
      val badNorm = exact.vecs.count { case (_, v) => math.abs(math.sqrt(exact.dot(v, v)) - 1.0) > 1e-9 }
      check(badNorm == 0, s"$tag $badNorm vectors without unit L2 norm")
      val present = movies.cleanIds.toSet
      val lat = mutable.ArrayBuffer.empty[Double]
      val lookup = mutable.ArrayBuffer.empty[Double]
      val neigh = mutable.ArrayBuffer.empty[Double]
      val recall = mutable.ArrayBuffer.empty[Double]
      val twinOf = movies.twins.flatMap { case (x, y) => Seq(x.toLong -> y.toLong, y.toLong -> x.toLong) }.toMap
      // twin probes first, then the skewed stream (cycled if the window
      // asks for more requests than the stream holds)
      val stream = twinOf.keys.toSeq.sorted ++ ids
      settle()
      val t0 = System.nanoTime()
      var i = 0
      while (i < minRequests || (System.nanoTime() - t0) / 1e9 < windowS) {
        val id = stream(i % stream.length)
        val req = s"$tag-r$i"
        val (recs, secs) = timed(tracer.span("ml.recommend", req)(
          Recommender.recommend(model, vectors, "id", id, topK)))
        lat += secs * 1000
        if (tracer.enabled) {
          // layer probes after the request, outside its span and latency:
          // the vector lookup alone, and neighbors (which does its own
          // lookup first) forced by collect
          lookup += timed(tracer.span("ml.lookup_vector", req)(
            Recommender.lookupVector(vectors, "id", id)))._2 * 1000
          neigh += timed(tracer.span("ml.neighbors", req)(
            Recommender.neighbors(model, vectors, "id", id, topK).collect()))._2 * 1000
        }
        // ---- checks for this request (not in its latency)
        val got = if (a.corrupt == "serve" && i == 0) recs.dropRight(1) else recs
        if (!present(id.toInt)) check(got.isEmpty, s"$req absent id $id returned $got")
        else {
          val dists = got.map(g => exact.vecs.get(g).map(_ => exact.dist(id, g)).getOrElse(Double.NaN))
          val ok = got.size == math.min(topK, exact.vecs.size - 1) && !got.contains(id) &&
            got.distinct.size == got.size && !dists.exists(_.isNaN) &&
            dists.zip(dists.drop(1)).forall { case (x, y) => x <= y + 1e-9 }
          check(ok, s"$req id $id returned $got with distances $dists")
          twinOf.get(id).foreach(t => check(got.headOption.contains(t),
            s"$req twin $id: top neighbour ${got.headOption}, expected $t"))
          val kth = exact.kthCos(id, topK)
          recall += got.count(g => exact.vecs.get(g).exists(v => exact.dot(exact.vecs(id), v) >= kth - 1e-12))
            .toDouble / topK
        }
        i += 1
      }
      Served(lat.toSeq, lookup.toSeq, neigh.toSeq, recall.toSeq)
    }

    // ---------------------------------------------------------- mix

    final case class MixPass(perQuery: Map[String, Double], swept: Map[String, Int])

    def mixPass(sfDir: String, order: Seq[String], expected: Map[String, (Long, String)],
        tag: String, recorded: mutable.Map[String, (Long, String)]): MixPass = {
      val qs = graft.SparkEntry.queries
      val times = mutable.Map.empty[String, Double]
      val swept = mutable.Map.empty[String, Int]
      settle()
      order.foreach { name =>
        val obs = Observation(s"bench_$name")
        val (_, s) = timed(tracer.span(s"q.$name", tag) {
          val df = qs(name)(spark, sfDir)
          val ex = digestExprs(df)
          df.observe(obs, ex.head, ex.tail: _*).write.format("noop").mode(SaveMode.Overwrite).save()
        })
        times(name) = s
        swept(name) = release()
        val m = obs.get
        val rows = m("rows").asInstanceOf[Long]
        val hsum = Option(m("hsum")).map(_.asInstanceOf[Long]).getOrElse(0L)
        val hxor = Option(m("hxor")).map(_.asInstanceOf[Long]).getOrElse(0L)
        val digest = f"$hsum%016x${hxor ^ (if (a.corrupt == "mix") 1L else 0L)}%016x"
        recorded(name) = (rows, digest)
        if (a.recordExpected.isEmpty)
          check(matchesExpected(name, (rows, digest), expected),
            s"$tag $name: rows $rows digest $digest, expected ${expected.get(name)}")
      }
      MixPass(times.toMap, swept.toMap)
    }
  }

  def readExpected(p: Option[Path]): Map[String, (Long, String)] =
    p.filter(Files.exists(_)).map { f =>
      val re = """"([A-Za-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"digest"\s*:\s*"([0-9a-f]+)"\s*\}""".r
      re.findAllMatchIn(new String(Files.readAllBytes(f))).map(m =>
        m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
    }.getOrElse(Map.empty)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val cpus = Runtime.getRuntime.availableProcessors
    val (steal0, total0) = cpuJiffies()
    Files.createDirectories(a.work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val out = runWorkload(spark, a, w)
      val (steal1, total1) = cpuJiffies()
      val stealPct = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
      val noise = Map("noise.cpus" -> cpus.toDouble, "noise.steal_pct" -> stealPct,
        "noise.loadavg_1m" -> loadAvg1())
      out(noise)
    } finally spark.stop()
  }

  /** Runs set-up and the timed cycle; returns a printer that takes the
    * noise markers (read after the work) and prints the result. */
  def runWorkload(spark: SparkSession, a: Args, w: Workload): Map[String, Double] => Unit = {
    val run = new Run(spark, a)
    val tracer = run.tracer
    val traceWanted = a.trace
    val expected = readExpected(a.expected)
    val recorded = mutable.Map.empty[String, (Long, String)]

    // ---- set-up. Each repetition generates the movie input and opens
    // Derby with a DDL; setup_s is the median repetition plus one
    // one-off step: writing the (seed-independent) harness tables and a
    // warm-up that runs every layer once at a small size, so the timed
    // part holds no JIT or class-loading cold start.
    tracer.enabled = false
    var movies: MovieGen.Movies = null
    val reps = (1 to setupReps).map { rep =>
      val dir = a.work.resolve(s"in/rep$rep")
      deleteTree(dir)
      timed {
        movies = MovieGen.write(MovieGen.Spec(w.csvRows, a.seed), dir.resolve("csv"))
        val url = run.freshDerbyUrl("setup") + ";create=true"
        JdbcSink.ensureTable(url, run.derbyProps, "CREATE TABLE warm (id INTEGER PRIMARY KEY)")
        run.dropDerby(url)
      }._2
    }
    val sfDir = a.work.resolve("in/sf").toString
    @volatile var harnessS = 0.0
    val warmS = timed {
      // the harness tables are written and the mix warms in a second
      // thread while the batch and serving paths warm in this one: cold
      // start is mostly JIT and class loading, which overlap well on
      // idle cores
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      val mixWarm = Future {
        harnessS = timed(HarnessGen.write(spark, sfDir))._2
        run.mixPass(sfDir, mixQueries, expected, "warm", recorded)
      }(ExecutionContext.global)
      val dir = a.work.resolve("in/warm")
      val warm = MovieGen.write(MovieGen.Spec(150, a.seed + 1), dir.resolve("csv"))
      val p = run.etlPass(warm, dir.resolve("stages"), "warm")
      run.serve(p.stagesDir, MovieGen.requests(warm, 4, a.seed, absentShare).toSeq, warm,
        "warm", 4, 0.0)
      Await.result(mixWarm, Duration.Inf)
    }._2
    val setupS = median(reps) + warmS
    System.err.println(f"[bench] setup reps ${reps.map(x => f"$x%.2f").mkString(" ")} " +
      f"warm-up $warmS%.2f (of which harness tables $harnessS%.2f)")
    // warm-up checks are real checks; they are kept apart so the record
    // shows which part failed, and added back into attempted/failed
    val (setupAttempted, setupFailed) = (run.attempted, run.failed)
    run.attempted = 0; run.failed = 0

    val requestIds = MovieGen.requests(movies, 400, a.seed, absentShare).toSeq
    val order = new scala.util.Random(a.seed).shuffle(mixQueries)
    val work = a.work.resolve("out")
    run.storage.reset()

    // ---- timed cycle: batch pass(es), then requests against the last
    // pass's stages, then one mix pass. The workload's focus repeats
    // until --seconds have passed (and at least minFocus times). When
    // tracing, every phase alternates an untraced and a traced
    // iteration; end-to-end numbers come from the untraced ones and
    // trace_overhead_s is the gap between the two on the focus.
    val etlPasses = mutable.ArrayBuffer.empty[(Boolean, Run#EtlPass)]
    val served = mutable.ArrayBuffer.empty[(Boolean, Run#Served)]
    val mixPasses = mutable.ArrayBuffer.empty[(Boolean, Run#MixPass)]
    val n = if (traceWanted) 2 else 1
    def iterations(focus: Boolean)(body: Int => Unit): Unit = {
      val t0 = System.nanoTime(); var i = 0
      def more = if (!focus) i < n
        else i < math.max(w.minFocus, n) || (System.nanoTime() - t0) / 1e9 < a.seconds
      while (more) { tracer.enabled = traceWanted && i % 2 == 1; body(i); i += 1 }
      tracer.enabled = false
    }
    iterations(w.focus == "etl") { i =>
      etlPasses += tracer.enabled -> run.etlPass(movies, work.resolve(s"stages$i"), s"etl$i")
    }
    val stages = etlPasses.last._2.stagesDir
    (0 until n).foreach { i =>
      tracer.enabled = traceWanted && i % 2 == 1
      // a traced run splits the requests between its untraced and traced
      // iterations; when serving is the focus each gets a quarter, since
      // a traced request also runs the two layer probes
      val (count, window) =
        if (w.focus != "serve") (w.requests / n, 0.0)
        else if (traceWanted) (w.minFocus / 4, 0.0)
        else (w.minFocus, a.seconds)
      served += tracer.enabled -> run.serve(stages, requestIds, movies, s"serve$i", count, window)
      tracer.enabled = false
    }
    // three mix passes; mix_total_s sums each query's fastest pass, so
    // a slow moment of a shared machine does not decide it
    (0 until 3).foreach { i =>
      tracer.enabled = traceWanted && i % 2 == 1
      mixPasses += tracer.enabled -> run.mixPass(sfDir, order, expected, s"mix$i", recorded)
      tracer.enabled = false
    }
    val peakMb = run.storage.peak / 1e6

    a.recordExpected.foreach { p =>
      val body = recorded.toSeq.sortBy(_._1).map { case (k, (r, d)) =>
        s"""  "$k": {"rows": $r, "digest": "$d"}""" }.mkString("{\n", ",\n", "\n}\n")
      Files.write(p, body.getBytes)
    }

    // ---- end-to-end metrics come from the untraced iterations only
    val etlU = etlPasses.filterNot(_._1).map(_._2)
    val servedU = served.filterNot(_._1).map(_._2)
    val mixU = mixPasses.filterNot(_._1).map(_._2)
    val lat = servedU.flatMap(_.latMs)
    val e2e = Map(
      "setup_s" -> setupS,
      "etl_wall_s" -> median(etlU.map(_.wall).toSeq),
      "stage_mb" -> median(etlU.map(_.stageBytes / 1e6).toSeq),
      "recommend_p50_ms" -> median(lat.toSeq),
      "recommend_p90_ms" -> quantile(lat.toSeq, 0.9),
      "recommend_qps" -> lat.size / (lat.sum / 1000.0),
      "recommend_recall_at_5" -> mean(servedU.flatMap(_.recall).toSeq),
      "mix_total_s" -> mixQueries.map(q => mixU.map(_.perQuery(q)).min).sum,
      "peak_storage_mb" -> peakMb)

    val layers: Map[String, Double] =
      if (!traceWanted) Map.empty
      else layerMetrics(run, etlPasses.toSeq, served.toSeq, mixPasses.toSeq, w)

    val info = Map("workload" -> w.name, "seed" -> a.seed.toString,
      "requests" -> lat.size.toString, "etl_passes" -> etlU.size.toString,
      "mix_passes" -> mixU.size.toString, "setup_failed" -> setupFailed.toString,
      "input_digest" -> movies.digest)

    (noise: Map[String, Double]) => {
      if (traceWanted)
        tracer.write(a.work.resolve(s"trace/spans-${w.name}-${a.seed}.jsonl"))
      val failedAll = run.failed + setupFailed
      val attemptedAll = run.attempted + setupAttempted
      val metrics =
        if (traceWanted) layers ++ noise ++ Map(
          "failed_frac" -> failedAll.toDouble / math.max(1L, attemptedAll))
        else e2e
      val declared = (if (traceWanted) perLayer else endToEnd).toSet
      val got: Set[String] = metrics.keySet.toSet
      require(got == declared, s"metrics differ from the declared list: " +
        s"extra ${got.diff(declared)}, missing ${declared.diff(got)}")
      require(metrics.values.forall(v => !v.isNaN && !v.isInfinite),
        s"metrics without a value: ${metrics.filter(e => e._2.isNaN || e._2.isInfinite).keys}")
      val units = metrics.keys.map(k => k -> unitOf(k)).toMap
      val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k": {"value": ${jsonNum(v)}, "unit": "${units(k)}"}""" }.mkString(", ")
      val result = s"""{"correct": ${failedAll == 0}, "attempted": ${math.max(1L, attemptedAll)}, """ +
        s""""failed": $failedAll, "metrics": {$ms}}"""
      // the run's own record: what ran, noise markers, failures, result
      def str(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
      val record = s"""{"info": {${info.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString(", ")}}, """ +
        s""""setup_reps_s": [${reps.map(jsonNum).mkString(", ")}], "harness_s": ${jsonNum(harnessS)}, """ +
        s""""warmup_s": ${jsonNum(warmS)}, """ +
        s""""noise": {${noise.map { case (k, v) => s"${str(k)}: ${jsonNum(v)}" }.mkString(", ")}}, """ +
        s""""failures": [${run.failures.take(50).map(str).mkString(", ")}], "result": $result}"""
      val rec = a.work.resolve(s"runs/run-${a.seed}-trace${if (traceWanted) 1 else 0}.json")
      Files.createDirectories(rec.getParent)
      Files.write(rec, (record + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] ${info.map { case (k, v) => s"$k=$v" }.mkString(" ")} " +
        noise.map { case (k, v) => s"$k=$v" }.mkString(" "))
      run.failures.take(20).foreach(f => System.err.println(s"[bench] failure: $f"))
      println(result)
    }
  }

  def jsonNum(v: Double): String = java.math.BigDecimal.valueOf(v).toPlainString

  def unitOf(name: String): String = name match {
    case n if n.endsWith("_ms") || n.endsWith("ms_per_req") => "ms"
    case n if n.endsWith("_mb") || n.endsWith(".mb") => "MB"
    case "recommend_qps" => "1/s"
    case n if n.endsWith("_s") || n.endsWith(".s") || n.endsWith("cpu_s") => "s"
    case n if n.endsWith("_pct") => "%"
    case "recommend_recall_at_5" | "failed_frac" => "ratio"
    case "noise.loadavg_1m" => "load"
    case _ => "count"
  }

  /** Per-layer metrics from the traced iterations' spans. Times are self
    * times (span minus its children); per-pass values are means over
    * the traced passes, per-request values means over traced requests. */
  def layerMetrics(run: Main.Run, etl: Seq[(Boolean, Run#EtlPass)],
      served: Seq[(Boolean, Run#Served)], mix: Seq[(Boolean, Run#MixPass)],
      w: Workload): Map[String, Double] = {
    val t = run.tracer
    val self = Trace.selfTimes(t.spans.toSeq)
    val incl = t.inclusiveCounts
    val byName = t.spans.groupBy(_.name)
    def spans(n: String) = byName.getOrElse(n, mutable.ArrayBuffer.empty[Span]).toSeq
    def nPasses(prefix: String) = math.max(1, spans(prefix).size)
    def selfS(n: String, per: Int) = spans(n).map(s => self(s.id)).sum / per
    def cnt(n: String)(f: LayerCounts => Double) = spans(n).map(s => f(incl(s.id))).sum
    val etlN = nPasses("etl.pass")
    val m = mutable.Map.empty[String, Double]
    def layer(n: String, per: Int, fields: String*): Unit = fields.foreach {
      case "s" => m(s"$n.s") = selfS(n, per)
      case "cpu_s" => m(s"$n.cpu_s") = cnt(n)(_.cpuNs / 1e9) / per
      case "tasks" => m(s"$n.tasks") = cnt(n)(_.tasks.toDouble) / per
      case "jobs" => m(s"$n.jobs") = cnt(n)(_.jobs.toDouble) / per
      case "shuffle_mb" => m(s"$n.shuffle_mb") = cnt(n)(_.shuffleBytes / 1e6) / per
      case "mb" => m(s"$n.mb") = cnt(n)(_.bytesWritten / 1e6) / per
      case "scans" => m(s"$n.scans") = cnt(n)(_.scans.toDouble) / per
      case "exchanges" => m(s"$n.exchanges") = cnt(n)(_.exchanges.toDouble) / per
    }
    layer("io.csv_read", etlN, "s", "cpu_s", "tasks")
    layer("etl.clean", etlN, "s", "cpu_s", "shuffle_mb")
    layer("etl.featurize", etlN, "s", "cpu_s")
    layer("text.prepare", etlN, "s", "cpu_s", "tasks")
    layer("ml.vectorize", etlN, "s", "cpu_s", "jobs", "shuffle_mb")
    layer("ml.lsh_fit", etlN, "s")
    layer("io.parquet_write", etlN, "s", "mb")
    layer("io.jdbc_load", etlN, "s")
    val tracedEtl = etl.filter(_._1).map(_._2)
    m("io.jdbc_load.tables_failed") = tracedEtl.map(_.tablesFailed).sum.toDouble / math.max(1, tracedEtl.size)
    layer("io.model_load", math.max(1, spans("io.model_load").size), "s")
    val tracedServe = served.filter(_._1).map(_._2)
    m("ml.lookup_vector.p50_ms") = median(tracedServe.flatMap(_.lookupMs))
    m("ml.neighbors.p50_ms") = median(tracedServe.flatMap(_.neighborsMs))
    val nReq = math.max(1, spans("ml.recommend").size)
    m("ml.recommend.jobs_per_req") = cnt("ml.recommend")(_.jobs.toDouble) / nReq
    m("ml.recommend.tasks_per_req") = cnt("ml.recommend")(_.tasks.toDouble) / nReq
    m("ml.recommend.rows_read_per_req") = cnt("ml.recommend")(_.rowsRead.toDouble) / nReq
    m("ml.recommend.cpu_ms_per_req") = cnt("ml.recommend")(_.cpuNs / 1e6) / nReq
    m("ml.recommend.gc_ms_per_req") = cnt("ml.recommend")(_.gcMs.toDouble) / nReq
    val tracedMix = mix.filter(_._1).map(_._2)
    mixQueries.foreach { q =>
      val n = s"q.$q"
      val per = math.max(1, spans(n).size)
      layer(n, per, "s", "cpu_s", "shuffle_mb", "scans", "exchanges")
      m(s"$n.swept_rdds") = tracedMix.map(_.swept.getOrElse(q, 0)).sum.toDouble / math.max(1, tracedMix.size)
    }
    // trace overhead on the workload's focus operation
    def overhead(u: Seq[Double], tr: Seq[Double]) = median(tr) - median(u)
    m("trace_overhead_s") = w.focus match {
      case "etl" => overhead(etl.filterNot(_._1).map(_._2.wall), etl.filter(_._1).map(_._2.wall))
      case _ => overhead(served.filterNot(_._1).flatMap(_._2.latMs), served.filter(_._1).flatMap(_._2.latMs)) / 1000
    }
    m.toMap
  }
}
