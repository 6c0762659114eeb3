package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.engine.{Release, Session}

/** Scaling-curve harness, one section per curve, runnable in-process
  * (legacy) or — the committed-artifact path — in a FRESH JVM per
  * section via [[ScalingChild]].
  *
  * Why isolation: rounds 10/11 showed the in-battery curves are
  * contaminated by accumulated JVM state — after ~100 battery queries
  * the heap/code-cache state dominates, and identical-code x10 points
  * swung 23.6→141.3 s between runs (q88, round 11). The same fix that
  * settled the PageRank cache-vs-checkpoint A/B (isolated JVMs) is
  * applied here to every committed curve: the parent bench forks
  * `java -cp <same classpath> graft.ScalingChild <section>` per curve,
  * so each curve starts from a cold JIT/heap and the only cross-run
  * variable left is box load — still recorded per point.
  *
  * Sections (bench.json keys):
  *  - dedup   → "points": minhash pair gen + full funnel, x1/x10/x30
  *    replicated docs. Each doc becomes an n-replica near-dup CLIQUE —
  *    the hard direction: emitted pairs grow ~n²/2 per doc by
  *    construction, so wall-time is expected to track OUTPUT size;
  *    sec-per-1k-pairs is the scale-honest rate.
  *  - pagerank → x1/x10/x30 disjoint graph replicas at the battery's
  *    5 rounds, plus an 8-round x10 point: 8 is the midCheckpointAbove
  *    boundary (largest run that builds a single uncut 8-join-deep
  *    DAG), so this point is the standing evidence the
  *    no-mid-checkpoint default doesn't hide superlinear
  *    analysis/codegen cost (round-11 advice); x30 extends the
  *    linear-in-edges evidence one decade (round-12 ask #6).
  *  - packing → x1/x10/x30 replicated docs (two-phase prefix sum:
  *    fixed number of shuffles over (id,count) longs, ~linear in docs).
  *  - rank    → q88 exact radix rank/deciles x1/x10/x30: the claim
  *    under test is "no corpus-sized window partition".
  *  - inc     → "incremental_dedup": fixed batch vs x1/x10/x30 corpus;
  *    index build cost reported separately (stored + amortized in
  *    production), inc_sec vs full_sec growth is the operator's claim.
  *  - winnow  → q166 winnowing fingerprint + overlap pairs,
  *    x1/x10/x30 replicated docs. Replicas of a doc share its
  *    fingerprint set, so emitted pairs grow ~n²/2 per family BY
  *    CONSTRUCTION (the dedup-section argument): wall is expected to
  *    track OUTPUT pairs, and sec-per-1k-pairs is the honest rate.
  *    Fingerprinting itself (map-only gram hashing + per-doc window)
  *    is the ~linear-in-tokens part.
  *  - backoff → q175 trigram stupid-backoff surprisal, x1/x10/x30
  *    replicated docs (even-id half fits the tables, odd-id half is
  *    scored, same split as the battery query). Replication grows the
  *    scored stream ~n and the transition tables sublinearly (replica
  *    perturbation tokens add vocabulary at the tail only), so the
  *    claim under test is ~linear wall in the scored stream — the
  *    5-probe join plan must not degrade as the tables grow.
  *  - lpa     → q180 label-propagation over the winnowing-overlap
  *    graph, x1/x10/x30. Replicas of a doc share fingerprints, so the
  *    EDGE set grows ~n²/2 per family by construction (the winnow
  *    section's argument); lpa_sec is reported beside the edge count
  *    and the honest rate is sec per 1k edges — the per-round
  *    join+aggregate loop should track edges, not corpus².
  *  - sparsesim → q171 inverted-index TF-IDF top-k, x1/x10/x30. The
  *    candidate set is Σ_t df_t² — replication multiplies every
  *    surviving df by n, so candidates grow ~n² on this synthetic
  *    clique corpus by construction (real corpora grow df sublinearly
  *    with volume); the claim under test is that cost tracks the
  *    candidate count, not the corpus square, and that the stopword
  *    pruning (df > N/2) keeps holding as N scales with df. Each x
  *    also runs a CAPPED cell (maxdf=8 in the point marker): the
  *    posting cap is the designed production lever against exactly
  *    this blowup (SparseSim scaladoc — pruning is declared
  *    semantics), and with a FIXED absolute cap the candidate mass
  *    Σ_{df≤C} df² ≤ C·Σdf is at most LINEAR in corpus volume by
  *    construction. On this corpus the cap's verdict is total:
  *    every pairing token's df scales ∝ corpus (the 31-type vocab
  *    makes each one boilerplate-grade — precisely what a posting
  *    cap prunes), and the replica-perturbation tokens are
  *    replica-UNIQUE (df = 1 — they never pair), so capped_rows = 0
  *    is the semantically correct output, recorded rather than
  *    hidden, and the capped cell measures the lever's floor — the
  *    tokenize/collapse/df scan, which must be (and measured) ~linear
  *    x10→x30 where the uncapped cell grows with the (250·x)²
  *    candidate clique. A production corpus keeps its mid-df band
  *    under the cap; this synthetic one has none.
  *  - ann → ivfHardNegatives with √n-SIZED CELL COUNT (nCents =
  *    ⌈√n⌉, nProbe = 4 fixed), x1/x10/x30 perturbed embedding
  *    replicas. The IVF pair stream is Σ_cell |probes|·|members| ≈
  *    n²·nProbe/nCents, so √n cells turn the n² miner into
  *    n^1.5·nProbe — and cells are the shuffle keys, so √n cells
  *    also keep parallelism growing with the corpus instead of
  *    capping at a fixed nCents (the round-16 watch item on
  *    ivfHardNegatives' default 16). Each point records the actual
  *    candidate-pair volume ([[graft.ops.Similarity.ivfProbeStats]])
  *    beside wall-clock, so "cost tracks the probed fraction, not
  *    n²" is a committed measurement: expected pair growth x10→x30
  *    is ~3^1.5 ≈ 5.2×, vs 9× for the n² exact miner. Each point
  *    ALSO times the assignment pass alone (`assign_sec`,
  *    [[graft.ops.Similarity.ivfAssign]]) — the n·nCents = n^1.5
  *    cross product the pair join sits on top of — so the round-17
  *    watch item ("the x30 per-candidate rate rises; is it the
  *    assignment term or the join?") is answered by the curve
  *    itself rather than argued.
  *  - adc → the ONLINE retrieval path (q212), x1/x10/x30 perturbed
  *    embedding replicas: fit+encode the replicated corpus ONCE per
  *    point (`encode_sec`, the offline index build, localCheckpointed
  *    so the timed read never re-runs it), then serve a FIXED
  *    16-probe batch via [[graft.ops.Similarity.adcTopKBatch]]
  *    (`sec`). The ann curve prices offline mining; this one prices
  *    what a production embedding-search tier actually serves —
  *    the scan is nVecs·nProbes candidate rows (m LUT lookups each,
  *    `cand_rows` in the point), so wall should track the corpus
  *    linearly at fixed probe count, and `sec_per_1m_cand_rows` is
  *    the honest per-candidate rate.
  */
object Scaling {

  /** 1-minute load average from /proc/loadavg — recorded per timed
    * battery pass and per scaling point, so a same-code perf swing can
    * be attributed to box contention from the artifact alone (rounds
    * 8→9: identical binaries, q60 0.76 s → 8.9 s median). */
  def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Cumulative hypervisor steal jiffies from /proc/stat (field 9 of
    * the aggregate cpu line). Loadavg sees only this VM's processes,
    * steal the neighbors' — round 12 measured identical-code
    * batteries spreading 80.9 → 126.1 s across one evening while
    * idle-box steal ran 3.7-6.3% of 32-core capacity. */
  def stealJiffies(): Long =
    try scala.io.Source.fromFile("/proc/stat").getLines().next()
      .trim.split("\\s+")(8).toLong
    catch { case _: Throwable => -1L }

  /** Steal as % of total vCPU capacity over a wall window (jiffies are
    * 100 Hz); -1 when /proc/stat was unreadable. */
  def stealPct(steal0: Long, wallSec: Double): Double = {
    val s1 = stealJiffies()
    if (steal0 < 0 || s1 < 0 || wallSec <= 0) -1.0
    else (s1 - steal0) * 100.0 /
      (wallSec * 100.0 * Runtime.getRuntime.availableProcessors())
  }

  /** `x` as a JSON number rounded half-up to `places` decimals, printed
    * with exactly that many — the precision every run artifact carries. */
  def fixed(x: Double, places: Int): JValue =
    JDecimal(BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP))

  val sectionNames: Seq[String] =
    Seq("dedup", "pagerank", "packing", "rank", "inc", "winnow", "sparsesim",
      "backoff", "lpa", "ann", "adc")

  /** bench.json object key per section. */
  def jsonKey(section: String): String =
    if (section == "dedup") "points"
    else if (section == "inc") "incremental_dedup" else section

  /** Run one section; returns (points, truncated). Points are
    * skipped (truncated=true) once `budgetSec` of wall-clock inside
    * this call is spent — a contended box degrades to fewer points
    * instead of blowing the round. */
  def runSection(spark: SparkSession, sfDir: String, section: String,
      budgetSec: Double): (JArray, Boolean) = {
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    def timed(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = f
      (n, (System.nanoTime() - t0) / 1e9)
    }
    val base = graft.engine.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang")
    // replica r of a doc appends r replica-distinct tokens, so the
    // n replicas form a graded near-dup family (replica 0 is the
    // original; sequence() guarded by when — an inverted range
    // throws). concat_ws skips the null perturbation at r=0.
    def replicate(n: Int, docs: org.apache.spark.sql.DataFrame = base) = docs
      .withColumn("__r", explode(sequence(lit(0), lit(n - 1))))
      .select(
        (col("doc_id") * n + col("__r")).as("doc_id"),
        concat_ws(" ", col("text"),
          when(col("__r") >= 1,
            concat_ws(" ", transform(sequence(lit(1), col("__r")),
              i => concat(lit("uq"), col("doc_id").cast("string"),
                lit("x"), i.cast("string")))))).as("text"),
        col("lang"))

    // embeddings analog of replicate(): replica r perturbs dim 0 by
    // r·0.001 so replicas are distinct vectors; replica 0 keeps the
    // original embedding, and base vec_id v maps to id v·n (shared by
    // the ann and adc sections)
    lazy val embBase = graft.engine.Tables.embeddings(spark, sfDir)
    def replicateEmb(n: Int) = embBase
      .withColumn("__r", explode(sequence(lit(0), lit(n - 1))))
      .select(
        (col("vec_id") * n + col("__r")).as("vec_id"),
        transform(col("embedding"), (v, i) =>
          when(i === 0, v + col("__r").cast("float") * lit(0.001f))
            .otherwise(v)).as("embedding"),
        col("label"))

    val points = scala.collection.mutable.ListBuffer.empty[JObject]
    var truncated = false
    // one curve point: skipped (truncated) once the budget is spent,
    // else `measure`'s fields plus the box's load and steal markers
    // over the point's wall window
    def point(measure: => JObject): Unit =
      if (elapsed >= budgetSec) truncated = true
      else {
        val la = loadAvg()
        val s0 = stealJiffies()
        val pt0 = System.nanoTime()
        val fields = measure
        points += fields ~ ("load" -> fixed(la, 1)) ~
          ("steal_pct" -> fixed(stealPct(s0, (System.nanoTime() - pt0) / 1e9), 2))
      }

    // untimed FULL x1-cell warmup of the section's own workload: in a
    // fresh JVM the first timed point otherwise absorbs Spark's own
    // JIT (shuffle/aggregation internals, not just plan codegen) —
    // the first isolated run showed the pagerank section at
    // 44.7 → 38.4 → 28.9 s with the LATER, larger points fastest,
    // i.e. progressive warm-up masquerading as inverse scaling. A
    // tiny-slice warmup did not close that gap; running the section's
    // own x1 workload once untimed does, after which every timed
    // point executes in an equally-warm JVM and the x1:x10 ratio is
    // the operator's, not the JIT's.
    try {
      section match {
        case "dedup" =>
          graft.ops.Dedup.minhashPairs(base, shingleSize = 3, bands = 10,
            rowsPerBand = 5, maxJaccardDist = 0.4).count()
          graft.ops.Dedup.deduplicate(base, maxJaccardDist = 0.4).count()
        case "inc" =>
          // the section's own workload includes the INDEXED increment
          // path — warming only pairs+funnel left the first timed x1
          // point absorbing incrementalDeduplicateIndexed's JIT
          // (round-13 run: x1 inc 32 s vs x10 inc 5.2 s, inverse
          // scaling that was pure warm-up)
          graft.ops.Dedup.minhashPairs(base, shingleSize = 3, bands = 10,
            rowsPerBand = 5, maxJaccardDist = 0.4).count()
          graft.ops.Dedup.deduplicate(base, maxJaccardDist = 0.4).count()
          val wIdx = graft.ops.Dedup.indexCorpus(base.filter(col("doc_id") % 10 =!= 0))
          graft.ops.Dedup.incrementalDeduplicateIndexed(
            base.filter(col("doc_id") % 10 === 0), wIdx, maxJaccardDist = 0.4).count()
          wIdx.unpersistAll()
        case "pagerank" =>
          val o = graft.engine.Tables.orders(spark, sfDir)
          val l = graft.engine.Tables.lineitem(spark, sfDir)
          val ol = o.join(l, o("o_orderkey") === l("l_orderkey"))
            .select(col("o_custkey").as("c"),
              (col("l_suppkey") + lit(1000000L)).as("sp"))
            .distinct()
          val e1 = ol.select(col("c").as("src"), col("sp").as("dst"))
            .union(ol.select(col("sp").as("src"), col("c").as("dst")))
          graft.ops.PageRank.ranks(e1, iterations = 5).count()
        case "packing" =>
          graft.ops.Packing.packSequences(base, budget = 256L).count()
        case "rank" =>
          val ranked = graft.ops.Ranks.exactGroupRank(base, "lang", "doc_id",
            graft.ops.TextStats.qualityScore(col("text")))
          graft.ops.Ranks.withQuantileBucket(ranked, "lang", buckets = 10).count()
        case "winnow" =>
          graft.ops.Winnowing.overlapPairs(base, k = 3, w = 4,
            minShared = 2L, maxDf = 64L).count()
        case "sparsesim" =>
          graft.ops.SparseSim.tfidfTopK(base, k = 5).count()
        case "backoff" =>
          graft.ops.TextStats.backoffSurprisal(
            base.filter(col("doc_id") % 2 === 1),
            base.filter(col("doc_id") % 2 === 0)).count()
        case "lpa" =>
          val pairs = graft.ops.Winnowing.overlapPairs(base,
            k = 3, w = 4, minShared = 2L, maxDf = 64L)
          graft.ops.LabelProp.propagate(
            pairs.select(col("doc_a"), col("doc_b")), rounds = 4,
            aCol = "doc_a", bCol = "doc_b").count()
        case "ann" =>
          graft.ops.Similarity.ivfHardNegatives(embBase, k = 5,
            nCents = 45, nProbe = 4).count()
          graft.ops.Similarity.ivfProbeStats(embBase, nCents = 45, nProbe = 4)
            .count()
          graft.ops.Similarity.ivfAssign(embBase, nCents = 45, nProbe = 4)
            .count()
        case "adc" =>
          val wBooks = graft.ops.Similarity.fitPqBooks(embBase,
            m = 8, nCodes = 16).localCheckpoint(true)
          val wCodes = graft.ops.Similarity.encodePq(embBase, wBooks)
            .localCheckpoint(true)
          graft.ops.Similarity.adcTopKBatch(wCodes, wBooks,
            embBase.orderBy("vec_id").limit(16)
              .select(col("vec_id").as("query_id"), col("embedding")),
            k = 10).count()
        case _ => ()
      }
    } catch { case _: Throwable => () }
    Release.sweep(spark)

    section match {
      case "dedup" =>
        Seq(1, 10, 30).foreach { x =>
          point {
            val df = if (x == 1) base else replicate(x)
            val nDocs = df.count()
            val (p, tp) = timed(graft.ops.Dedup.minhashPairs(df, shingleSize = 3,
              bands = 10, rowsPerBand = 5, maxJaccardDist = 0.4).count())
            Release.sweep(spark)
            val (f, tf) = timed(graft.ops.Dedup.deduplicate(df, maxJaccardDist = 0.4).count())
            Release.sweep(spark)
            val perK = if (p > 0) tp / (p / 1000.0) else 0.0
            ("x" -> x) ~ ("docs" -> nDocs) ~ ("q31_pairs" -> p) ~ ("q31_sec" -> fixed(tp, 2)) ~
              ("q31_sec_per_1k_pairs" -> fixed(perK, 3)) ~ ("q55_survivors" -> f) ~
              ("q55_sec" -> fixed(tf, 2))
          }
        }

      case "pagerank" =>
        // q73's customer⇄supplier bipartite graph, then 10 DISJOINT
        // copies (ids offset per replica — same per-component
        // structure, 10× the edges and vertices)
        val o = graft.engine.Tables.orders(spark, sfDir)
        val l = graft.engine.Tables.lineitem(spark, sfDir)
        val ol = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select(col("o_custkey").as("c"), (col("l_suppkey") + lit(1000000L)).as("sp"))
          .distinct()
        val edges1 = ol.select(col("c").as("src"), col("sp").as("dst"))
          .union(ol.select(col("sp").as("src"), col("c").as("dst")))
        def edgesX(n: Int) = edges1
          .withColumn("__r", explode(sequence(lit(0), lit(n - 1))))
          .select((col("src") + col("__r") * 10000000L).as("src"),
            (col("dst") + col("__r") * 10000000L).as("dst"))
        // (x, iterations): the 8-round x10 cell sits exactly at the
        // midCheckpointAbove=8 boundary — the deepest uncut DAG the
        // default permits — so a superlinear analysis/codegen blowup
        // there would show against the 5-round cell's ~1.6× expected
        // per-round scaling instead of hiding until production. The
        // x30 cell (round-12 verdict ask #6) backs the 100× claim one
        // decade further: linear-in-edges shape holds iff
        // sec(x30)/sec(x10) ≈ 3 at equal iterations.
        Seq((1, 5), (10, 5), (10, 8), (30, 5)).foreach { case (x, iters) =>
          point {
            val e = if (x == 1) edges1 else edgesX(x)
            val nEdges = e.count()
            val (v, t) = timed(graft.ops.PageRank.ranks(e, iterations = iters).count())
            Release.sweep(spark)
            ("x" -> x) ~ ("iters" -> iters) ~ ("edges" -> nEdges) ~ ("vertices" -> v) ~
              ("sec" -> fixed(t, 2))
          }
        }

      case "packing" =>
        // concat-and-cut over the replicated corpus (perturbation
        // tokens shift counts slightly — irrelevant, only volume
        // matters). x30 (round-14 verdict ask #3): the 100× claim for
        // the pipeline-critical prefix-sum previously stopped at x10.
        Seq(1, 10, 30).foreach { x =>
          point {
            val df = if (x == 1) base else replicate(x)
            val nDocs = df.count()
            val (spans, t) = timed(graft.ops.Packing.packSequences(df, budget = 256L).count())
            Release.sweep(spark)
            ("x" -> x) ~ ("docs" -> nDocs) ~ ("span_rows" -> spans) ~ ("sec" -> fixed(t, 2))
          }
        }

      case "rank" =>
        // exact radix rank/deciles (q88): the claim under test is "no
        // corpus-sized window partition" — two-level radix counting
        // should grow ~linearly with docs where the naive per-language
        // window would hit a single-task sort. Repeated scores land in
        // the same radix cell (the tie path is exercised by
        // construction). x30 (round-12 verdict ask #6): one more
        // decade behind the linearity claim.
        Seq(1, 10, 30).foreach { x =>
          point {
            val df = if (x == 1) base else replicate(x)
            val nDocs = df.count()
            val (rows, t) = timed {
              val ranked = graft.ops.Ranks.exactGroupRank(df, "lang", "doc_id",
                graft.ops.TextStats.qualityScore(col("text")))
              graft.ops.Ranks.withQuantileBucket(ranked, "lang", buckets = 10).count()
            }
            Release.sweep(spark)
            ("x" -> x) ~ ("docs" -> nDocs) ~ ("rows" -> rows) ~ ("sec" -> fixed(t, 2))
          }
        }

      case "winnow" =>
        // winnowing fingerprints + df-capped overlap join: replicas
        // share fingerprints, so pairs grow ~n²/2 per family by
        // construction (see the object scaladoc); x30 keeps every
        // fingerprint's df (≈30 per family) under the maxDf=64 cap
        Seq(1, 10, 30).foreach { x =>
          point {
            val df = if (x == 1) base else replicate(x)
            val nDocs = df.count()
            val (p, t) = timed(graft.ops.Winnowing.overlapPairs(df,
              k = 3, w = 4, minShared = 2L, maxDf = 64L).count())
            Release.sweep(spark)
            val perK = if (p > 0) t / (p / 1000.0) else 0.0
            ("x" -> x) ~ ("docs" -> nDocs) ~ ("pairs" -> p) ~ ("sec" -> fixed(t, 2)) ~
              ("sec_per_1k_pairs" -> fixed(perK, 3))
          }
        }

      case "sparsesim" =>
        // inverted-index TF-IDF top-k: candidates are Σ_t df_t², which
        // replication inflates ~n² on this clique corpus — the honest
        // rate is sec per 1k ranked output rows with the candidate
        // blowup documented (object scaladoc). Each x runs the
        // uncapped battery cell AND the maxDf=8 capped cell — the
        // production posting-cap lever, measured (object scaladoc:
        // fixed absolute cap ⇒ candidate mass ≤ C·Σdf, at most linear)
        Seq(1, 10, 30).foreach { x =>
          point {
            val df = if (x == 1) base else replicate(x)
            val nDocs = df.count()
            val (rows, t) = timed(graft.ops.SparseSim.tfidfTopK(df, k = 5).count())
            Release.sweep(spark)
            val (rowsC, tC) = timed(
              graft.ops.SparseSim.tfidfTopK(df, k = 5, maxDf = 8L).count())
            Release.sweep(spark)
            ("x" -> x) ~ ("docs" -> nDocs) ~ ("rows" -> rows) ~ ("sec" -> fixed(t, 2)) ~
              ("capped_maxdf" -> 8) ~ ("capped_rows" -> rowsC) ~
              ("capped_sec" -> fixed(tC, 2))
          }
        }

      case "ann" =>
        // ivfHardNegatives with nCents = ceil(sqrt(n)), nProbe = 4:
        // the √n sizing rule measured (object scaladoc). cand_pairs is
        // the ACTUAL probed pair volume (ivfProbeStats), recorded
        // untimed beside the timed mining run; assign_sec times the
        // n·nCents assignment cross product ALONE so the mining wall
        // decomposes into its two n^1.5 terms (the round-17 watch
        // item: the per-candidate rate drift at x30 could not say
        // which term owned the overhead).
        Seq(1, 10, 30).foreach { x =>
          point {
            val df = if (x == 1) embBase else replicateEmb(x)
            val nVecs = df.count()
            val nCents = math.ceil(math.sqrt(nVecs.toDouble)).toInt
            val stats = graft.ops.Similarity.ivfProbeStats(df,
              nCents = nCents, nProbe = 4).collect()(0)
            val candPairs = stats.getLong(2)
            Release.sweep(spark)
            val (_, tAssign) = timed(graft.ops.Similarity.ivfAssign(df,
              nCents = nCents, nProbe = 4).count())
            Release.sweep(spark)
            val (rows, t) = timed(graft.ops.Similarity.ivfHardNegatives(df,
              k = 5, nCents = nCents, nProbe = 4).count())
            Release.sweep(spark)
            // x30 only: the selective-salted spelling of the SAME
            // mining run (numSalts = 8, result-identical) beside the
            // unsalted wall. r18 isolated the x30 variance to this
            // join's contention-sensitive spill; audit-driven salting
            // of the hot cells only is the production spelling (q223),
            // and the committed verdict reads both walls per window
            // (multi-window data in ANN_WINDOWS.json).
            val selectiveSec = Option.when(x == 30) {
              val (_, tSel) = timed(graft.ops.Similarity.ivfHardNegatives(df, k = 5,
                nCents = nCents, nProbe = 4, numSalts = 8).count())
              Release.sweep(spark)
              tSel
            }
            val perM = if (candPairs > 0) t / (candPairs / 1e6) else 0.0
            ("x" -> x) ~ ("vecs" -> nVecs) ~ ("ncents" -> nCents) ~ ("nprobe" -> 4) ~
              ("cand_pairs" -> candPairs) ~ ("rows" -> rows) ~
              ("assign_sec" -> fixed(tAssign, 2)) ~ ("sec" -> fixed(t, 2)) ~
              ("sec_per_1m_cand_pairs" -> fixed(perM, 3)) ~
              ("salts" -> selectiveSec.map(_ => 8)) ~
              ("selective_sec" -> selectiveSec.map(fixed(_, 2)))
          }
        }

      case "adc" =>
        // the ONLINE query path (q212/q215): per point, fit+encode
        // the replicated corpus once (encode_sec — the offline index
        // build, checkpointed so the timed read never re-runs it),
        // then serve the SAME 16-probe batch at every x, TWICE: the
        // full scan (adcTopKBatch — cand_rows = nVecs·16) and the
        // IVF-ROUTED tier (adcTopKBatchRouted at nCents = ⌈√n⌉,
        // nProbe = 4 — routed_cand_rows = Σ probed-cell sizes over
        // the batch). The routed/full cand-row ratio ~ nProbe/nCents
        // is q215's scan-fraction claim, MEASURED per point beside
        // both walls (r18 verdict ask #3); route_sec is the offline
        // cell-stamping cost, reported separately like encode_sec.
        // The probe frame is re-derived per point (deterministic, 16
        // rows, untimed) rather than checkpointed once: the per-point
        // sweep would unpersist a shared checkpoint and its truncated
        // lineage could not recompute.
        Seq(1, 10, 30).foreach { x =>
          point {
            val probes = embBase.orderBy("vec_id").limit(16)
              .select(col("vec_id").as("query_id"), col("embedding"))
              .localCheckpoint(true)
            val df = if (x == 1) embBase else replicateEmb(x)
            val nVecs = df.count()
            var books: org.apache.spark.sql.DataFrame = null
            var codes: org.apache.spark.sql.DataFrame = null
            val (_, tEnc) = timed {
              books = graft.ops.Similarity.fitPqBooks(df, m = 8,
                nCodes = 16).localCheckpoint(true)
              codes = graft.ops.Similarity.encodePq(df, books)
                .localCheckpoint(true)
              codes.count()
            }
            // routed offline build (route_sec) BEFORE either timed
            // serve: sweep() unpersists localCheckpoint blocks, so a
            // mid-pair sweep would orphan the frames the second serve
            // reads — one sweep after both timed cells instead (the
            // serves themselves persist nothing)
            val nCents = math.ceil(math.sqrt(nVecs.toDouble)).toInt
            var cents: org.apache.spark.sql.DataFrame = null
            var asg: org.apache.spark.sql.DataFrame = null
            var codesCell: org.apache.spark.sql.DataFrame = null
            val (_, tRoute) = timed {
              cents = graft.ops.Similarity.ivfCentroids(df, nCents)
                .localCheckpoint(true)
              asg = graft.ops.Similarity.ivfAssign(df, nCents, nProbe = 4)
                .localCheckpoint(true)
              codesCell = codes
                .join(asg.select(col("vec_id"), col("cell")), Seq("vec_id"))
                .localCheckpoint(true)
              codesCell.count()
            }
            // untimed instrument: Σ probed-cell sizes over the batch —
            // probe base-id b is replica id b·x (replica 0 keeps the
            // unperturbed vector), so its stored probe list IS the
            // batch's routing
            val cellSizes = asg.groupBy("cell")
              .agg(count(lit(1)).as("__n"))
            val candRouted = asg
              .join(probes.select((col("query_id") * x).as("vec_id")),
                Seq("vec_id"), "left_semi")
              .select(explode(col("probes")).as("cell"))
              .join(cellSizes, Seq("cell"))
              .agg(sum(col("__n")))
              .collect()(0).getLong(0)
            val (rows, t) = timed(graft.ops.Similarity.adcTopKBatch(
              codes, books, probes, k = 10).count())
            val (rowsR, tR) = timed(
              graft.ops.Similarity.adcTopKBatchRouted(codesCell, books,
                cents, probes, k = 10, nProbe = 4).count())
            Release.sweep(spark)
            val candRows = nVecs * 16L
            val perM = if (candRows > 0) t / (candRows / 1e6) else 0.0
            val perMR = if (candRouted > 0) tR / (candRouted / 1e6) else 0.0
            ("x" -> x) ~ ("vecs" -> nVecs) ~ ("n_queries" -> 16) ~ ("cand_rows" -> candRows) ~
              ("encode_sec" -> fixed(tEnc, 2)) ~ ("rows" -> rows) ~ ("sec" -> fixed(t, 2)) ~
              ("sec_per_1m_cand_rows" -> fixed(perM, 3)) ~ ("ncents" -> nCents) ~
              ("nprobe" -> 4) ~ ("route_sec" -> fixed(tRoute, 2)) ~
              ("routed_cand_rows" -> candRouted) ~ ("routed_rows" -> rowsR) ~
              ("routed_sec" -> fixed(tR, 2)) ~
              ("routed_sec_per_1m_cand_rows" -> fixed(perMR, 3))
          }
        }

      case "backoff" =>
        // even-id fit / odd-id score over the replicated corpus.
        // Replica ids are doc_id·n+r, so replicas ALTERNATE parity
        // within a family — each family contributes to both the
        // tables and the scored stream; the curve measures the
        // 5-probe join plan's growth with ~n on both sides, not the
        // backoff hit mix (which this split makes trigram-heavy).
        Seq(1, 10, 30).foreach { x =>
          point {
            val df = if (x == 1) base else replicate(x)
            val nDocs = df.count()
            val (rows, t) = timed(graft.ops.TextStats.backoffSurprisal(
              df.filter(col("doc_id") % 2 === 1),
              df.filter(col("doc_id") % 2 === 0)).count())
            Release.sweep(spark)
            ("x" -> x) ~ ("docs" -> nDocs) ~ ("scored_docs" -> rows) ~ ("sec" -> fixed(t, 2))
          }
        }

      case "lpa" =>
        // winnow-overlap edges grow ~n²/2 per replica family (see the
        // object scaladoc); the curve reports edges beside wall so the
        // per-1k-edge rate is the honest number. Edge generation is
        // timed separately from the 4 propagation rounds.
        Seq(1, 10, 30).foreach { x =>
          point {
            val df = if (x == 1) base else replicate(x)
            val nDocs = df.count()
            var pairs: org.apache.spark.sql.DataFrame = null
            val (nEdges, tEdges) = timed {
              pairs = graft.ops.Winnowing.overlapPairs(df,
                k = 3, w = 4, minShared = 2L, maxDf = 64L)
                .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
              pairs.count()
            }
            val (nodes, tLpa) = timed(graft.ops.LabelProp.propagate(
              pairs, rounds = 4, aCol = "doc_a", bCol = "doc_b").count())
            Release.sweep(spark)
            val perK = if (nEdges > 0) tLpa / (nEdges / 1000.0) else 0.0
            ("x" -> x) ~ ("docs" -> nDocs) ~ ("edges" -> nEdges) ~
              ("edges_sec" -> fixed(tEdges, 2)) ~ ("nodes" -> nodes) ~
              ("lpa_sec" -> fixed(tLpa, 2)) ~ ("lpa_sec_per_1k_edges" -> fixed(perK, 3))
          }
        }

      case "inc" =>
        // incremental vs full dedup: the batch slice stays FIXED while
        // the corpus side grows x1/x10. The corpus index is built and
        // materialized FIRST and its cost reported separately — in
        // production it is stored and amortized across increments.
        // full_sec re-runs the whole funnel over corpus+batch; the gap
        // between inc_sec and full_sec growth is the operator's claim.
        // x30 (round-14 verdict ask #3) extends the fixed-batch-vs-
        // growing-corpus evidence the same decade the other curves got.
        val batchSlice = base.filter(col("doc_id") % 10 === 0)
        val corpusSlice = base.filter(col("doc_id") % 10 =!= 0)
        Seq(1, 10, 30).foreach { x =>
          point {
            val c = if (x == 1) corpusSlice else replicate(x, corpusSlice)
            val nCorpus = c.count()
            var idx: graft.ops.Dedup.CorpusDedupIndex = null
            val (_, tIdx) = timed {
              idx = graft.ops.Dedup.indexCorpus(c)
              idx.bandRows.count() + idx.shingles.count() + idx.texts.count()
            }
            val (adm, ti) = timed(graft.ops.Dedup.incrementalDeduplicateIndexed(
              batchSlice, idx, maxJaccardDist = 0.4).count())
            Release.sweep(spark)
            val (surv, tf) = timed(graft.ops.Dedup.deduplicate(
              c.unionByName(batchSlice), maxJaccardDist = 0.4).count())
            Release.sweep(spark)
            ("x" -> x) ~ ("corpus" -> nCorpus) ~ ("index_sec" -> fixed(tIdx, 2)) ~
              ("admitted" -> adm) ~ ("inc_sec" -> fixed(ti, 2)) ~ ("full_survivors" -> surv) ~
              ("full_sec" -> fixed(tf, 2))
          }
        }

      case other =>
        throw new IllegalArgumentException(s"unknown scaling section: $other")
    }
    (JArray(points.toList), truncated)
  }
}

/** One scaling curve in a fresh JVM: `graft.ScalingChild <section>`.
  *
  * Forked by [[Bench]] with the parent's exact classpath and JVM
  * flags; prints exactly one machine line to stdout —
  * `GRAFT_SCALING_FRAGMENT <section> <truncated> <jsonArray>` (the
  * points array rendered compact, so on one line) — which the parent
  * parses into bench.json's "scaling" object. Everything
  * else (Spark chatter) goes to stderr or is suppressed at ERROR
  * level, and the parent consumes this stdout privately (it never
  * reaches the driver's tail capture).
  */
object ScalingChild {
  def main(args: Array[String]): Unit = {
    val section = args.headOption.getOrElse(
      sys.error("usage: ScalingChild <section>"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budget = sys.env.getOrElse("SPARK_GRAFT_SCALING_BUDGET", "900").toDouble
    val spark = Session("ERROR")
    // the battery's warm-up, so the first point doesn't absorb session
    // fixed costs (the curves compare points WITHIN this JVM)
    Bench.warmUp(spark, sfDir)
    val (json, truncated) = Scaling.runSection(spark, sfDir, section, budget)
    spark.stop()
    println(s"GRAFT_SCALING_FRAGMENT $section $truncated ${compact(render(json))}")
    System.out.flush()
  }
}
