package graft

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.util.Json

/** Verify-time invariant checks for the queries whose row SELECTION no
  * SQL oracle can re-derive (seeded MLlib fits, LSH recall, sketch
  * estimates). Each check re-reads the parquet dump Verify just wrote
  * and re-derives every checkable invariant from the source tables —
  * distance/cosine re-derivation for the ANN queries, exact twins for
  * the sketch queries. Results land in `outDir/self_checks.json`, so
  * the driver's round artifact records a concrete pass/fail for each
  * `no_oracle` query instead of a silent gap (the in-battery analog of
  * the reference notebook's manual neighbor validation,
  * transform/execute.ipynb cells 76-86). */
object SelfChecks {

  /** Run every self-check; returns (query, (pass, detail)) in battery
    * order. A crashed check reports pass=false, never throws. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, (Boolean, String))] = {
    def guard(body: => (Boolean, String)): (Boolean, String) =
      try body catch { case e: Throwable => (false, s"check crashed: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    Seq(
      "q30_doc_recommend" -> guard(neighborMetricExact(spark, outDir, "q30_doc_recommend",
        () => graft.queries.Pipelines.docVectors(spark, sfDir)._1)),
      "q67_recommend_hashed" -> guard(neighborMetricExact(spark, outDir, "q67_recommend_hashed",
        () => graft.queries.Pipelines.docVectorsHashed(spark, sfDir)._1)),
      "q33_ann_lsh" -> guard(annDistances(spark, sfDir, outDir)),
      "q43_lsh_neardup" -> guard(neardupCosines(spark, sfDir, outDir)),
      "q35_sketches" -> guard(sketchesVsExact(spark, sfDir, outDir)),
      "q54_corpus_sketch" -> guard(corpusSketchVsExact(spark, sfDir, outDir)),
      "q84_incremental_neardup" -> guard(bandBucketsUnderCap(spark, sfDir)),
      "stream_arrival_end_state" -> guard(streamEqualsChainedBatch(spark, sfDir, outDir)),
      "residual_stream_end_state" -> guard(residualStreamEqualsAppend(spark, sfDir, outDir)),
      "als_planted_blocks" -> guard(alsPlantedBlocks(spark)))
  }

  def toJson(results: Seq[(String, (Boolean, String))]): String =
    results.map { case (name, (pass, detail)) =>
      s"""${Json.quote(name)}: {"pass": $pass, "detail": ${Json.quote(detail)}}"""
    }.mkString("{", ", ", "}")

  private def out(spark: SparkSession, outDir: String, name: String): DataFrame =
    spark.read.parquet(s"$outDir/$name")

  /** q30/q67: structural invariants (k=10, distinct, self-excluded,
    * ascending) PLUS metric-exact re-derivation: the vectorization is
    * re-fit from the source documents (deterministic in-session —
    * seeded LSH, pure-aggregate IDF; vocabulary order can at most
    * permute coordinates, which Euclidean distance is invariant to)
    * and every emitted distance is recomputed as
    * sqrt(sqdist(vec(0), vec(neighbor))) — the same keyDistance the
    * LSH model used. The emitted ROW SELECTION stays fit-dependent
    * (hence no SQL oracle), but every emitted VALUE is now checked
    * against an independent recomputation, same as q33. */
  private def neighborMetricExact(spark: SparkSession, outDir: String,
      name: String, refit: () => DataFrame): (Boolean, String) = {
    val rows = out(spark, outDir, name).select(col("doc_id"), col("distance"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val errs = ListBuffer.empty[String]
    if (rows.length != 10) errs += s"expected 10 rows, got ${rows.length}"
    if (rows.map(_._1).distinct.length != rows.length) errs += "duplicate neighbor ids"
    if (rows.exists(_._1 == 0L)) errs += "query doc 0 not self-excluded"
    if (rows.exists(r => r._2 < 0 || r._2.isNaN || r._2.isInfinite)) errs += "non-finite or negative distance"
    if (!rows.map(_._2).sameElements(rows.map(_._2).sorted)) errs += "distances not ascending"
    val vectors = refit()
    try {
      val ids = rows.map(_._1) :+ 0L
      val vecs = vectors.filter(col("id").isin(ids: _*))
        .select("id", "norm_features").collect()
        .map(r => r.getLong(0) -> r.getAs[org.apache.spark.ml.linalg.Vector](1)).toMap
      val q = vecs(0L)
      val maxErr = rows.map { case (id, d) =>
        math.abs(d - math.sqrt(org.apache.spark.ml.linalg.Vectors.sqdist(q, vecs(id))))
      }.foldLeft(0.0)(math.max)
      if (maxErr > 1e-9) errs += f"distance re-derivation off by $maxErr%.3g"
      (errs.isEmpty,
        if (errs.isEmpty) f"10 distinct non-self neighbors; every distance re-derives exactly from a re-fit vector space (max err $maxErr%.3g)"
        else errs.mkString("; "))
    } finally vectors.unpersist()
  }

  /** q33: structural invariants PLUS exact re-derivation of every
    * emitted Euclidean distance from the embeddings table (the same
    * check RowsOnlySanitySpec runs on sf0.001, here on the battery's
    * actual sf and dump). */
  private def annDistances(spark: SparkSession, sfDir: String,
      outDir: String): (Boolean, String) = {
    val rows = out(spark, outDir, "q33_ann_lsh").select("vec_id", "distance")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val errs = ListBuffer.empty[String]
    if (rows.length != 10) errs += s"expected 10 rows, got ${rows.length}"
    if (rows.map(_._1).distinct.length != rows.length) errs += "duplicate ids"
    if (rows.exists(_._1 == 0L)) errs += "query vector not self-excluded"
    if (!rows.map(_._2).sameElements(rows.map(_._2).sorted)) errs += "distances not ascending"
    val ids = rows.map(_._1) :+ 0L
    val vecs = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id").isin(ids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Number](1).map(_.doubleValue()).toArray).toMap
    val q = vecs(0L)
    val maxErr = rows.map { case (id, d) =>
      val v = vecs(id)
      var acc = 0.0; var i = 0
      while (i < v.length) { val x = v(i) - q(i); acc += x * x; i += 1 }
      math.abs(d - math.sqrt(acc))
    }.foldLeft(0.0)(math.max)
    if (maxErr > 1e-9) errs += f"distance re-derivation off by $maxErr%.3g"
    (errs.isEmpty,
      if (errs.isEmpty) f"10 neighbors; every distance re-derives exactly (max err $maxErr%.3g)"
      else errs.mkString("; "))
  }

  /** q43: canonical-order/distinct/threshold invariants (checked
    * DISTRIBUTED over every pair at any scale) PLUS exact
    * re-derivation of the emitted cosines — all of them up to 100k
    * pairs, and above that a deterministic hash-ordered 1000-pair
    * sample, so the metric check never silently degrades to
    * structural-only at scale. */
  private def neardupCosines(spark: SparkSession, sfDir: String,
      outDir: String): (Boolean, String) = {
    val full = out(spark, outDir, "q43_lsh_neardup")
    val errs = ListBuffer.empty[String]
    // structural invariants as one distributed aggregate — no collect
    val s = full.agg(
      count(lit(1)).as("n"),
      sum(when(col("vec_a") >= col("vec_b"), 1L).otherwise(0L)).as("bad_order"),
      min(col("cosine")).as("min_cos")).collect().head
    val pairCount = s.getAs[Long]("n")
    if (pairCount == 0L) errs += "no pairs emitted (RP config should find candidates at this sf)"
    if (s.getAs[Long]("bad_order") != 0L) errs += "pair not in canonical vec_a < vec_b order"
    if (pairCount > 0 && s.getAs[Double]("min_cos") < 0.395) errs += "cosine below declared threshold 0.395"
    if (full.select("vec_a", "vec_b").distinct().count() != pairCount) errs += "duplicate pairs"
    // metric re-derivation subset: everything when small; a
    // deterministic hash-ordered sample when large (the hash order is
    // a pure function of the pair ids, so the same dump always samples
    // the same 1000 pairs)
    val sampled = pairCount > 100000L
    val subset =
      if (!sampled) full
      else full.orderBy(xxhash64(col("vec_a"), col("vec_b")), col("vec_a"), col("vec_b"))
        .limit(1000)
    val rows = subset.select("vec_a", "vec_b", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ids = rows.flatMap(r => Seq(r._1, r._2)).distinct
    val vecs = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id").isin(ids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Number](1).map(_.doubleValue()).toArray).toMap
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val maxErr = rows.map { case (a, b, c) => math.abs(c - cosine(vecs(a), vecs(b))) }
      .foldLeft(0.0)(math.max)
    if (maxErr > 1e-9) errs += f"cosine re-derivation off by $maxErr%.3g"
    val how = if (sampled) s"a deterministic 1000-pair hash-ordered sample of $pairCount"
      else s"all ${rows.length}"
    (errs.isEmpty,
      if (errs.isEmpty) f"$pairCount canonical distinct pairs >= 0.395; cosines of $how re-derive exactly (max err $maxErr%.3g)"
      else errs.mkString("; "))
  }

  /** q84: assert no corpus-side band bucket exceeded the skew guard's
    * cap during the run. When this holds the routed candidate set is
    * exactly the un-guarded one, so a q84 oracle divergence is
    * attributable to banding recall / verify arithmetic — never to a
    * silent min+max-rep collapse of a flooded bucket (the guard's
    * documented probabilistic tradeoff, which the exact all-pairs
    * DuckDB oracle cannot see). */
  private def bandBucketsUnderCap(spark: SparkSession, sfDir: String): (Boolean, String) = {
    val corpus = Tables.documents(spark, sfDir).filter(col("doc_id") % 10 =!= 0)
    val maxBucket = graft.ops.Dedup.maxBandBucketSize(corpus,
      shingleSize = 3, bands = 10, rowsPerBand = 5)
    val cap = 256L
    (maxBucket <= cap,
      if (maxBucket <= cap)
        s"largest corpus band bucket $maxBucket <= cap $cap: no rep collapse occurred; oracle divergences would be attributable"
      else
        s"corpus band bucket of $maxBucket exceeds cap $cap: hot-bucket rep collapse active, q84 oracle comparison no longer recall-exact")
  }

  /** q35: bound each sketch estimate against its exact twin —
    * approx_count_distinct (rsd 0.05 default) within 15% of the exact
    * countDistinct, and each percentile_approx value (accuracy 1000 →
    * rank error 1e-3) at an actual rank within ±0.01 of its target. */
  private def sketchesVsExact(spark: SparkSession, sfDir: String,
      outDir: String): (Boolean, String) = {
    val li = Tables.lineitem(spark, sfDir)
    val o = out(spark, outDir, "q35_sketches")
    val exact = li.groupBy("l_returnflag").agg(
      countDistinct(col("l_partkey")).as("ex_parts"),
      countDistinct(col("l_suppkey")).as("ex_supps"))
    val errs = ListBuffer.empty[String]
    o.join(exact, "l_returnflag").collect().foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      def rel(approx: Long, ex: Long): Double = math.abs(approx - ex).toDouble / ex.max(1L)
      val (rp, rs) = (rel(r.getAs[Long]("approx_parts"), r.getAs[Long]("ex_parts")),
        rel(r.getAs[Long]("approx_supps"), r.getAs[Long]("ex_supps")))
      if (rp > 0.15) errs += f"$flag: approx_parts off by ${rp * 100}%.1f%%"
      if (rs > 0.15) errs += f"$flag: approx_supps off by ${rs * 100}%.1f%%"
    }
    val ranks = li.join(broadcast(o.select("l_returnflag", "p50_price", "p95_price")), "l_returnflag")
      .groupBy("l_returnflag").agg(
        avg(when(col("l_extendedprice") <= col("p50_price"), 1.0).otherwise(0.0)).as("r50"),
        avg(when(col("l_extendedprice") <= col("p95_price"), 1.0).otherwise(0.0)).as("r95"))
      .collect()
    ranks.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      val (r50, r95) = (r.getAs[Double]("r50"), r.getAs[Double]("r95"))
      if (r50 < 0.49 || r50 > 0.51) errs += f"$flag: p50 estimate sits at rank $r50%.4f"
      if (r95 < 0.94 || r95 > 0.96) errs += f"$flag: p95 estimate sits at rank $r95%.4f"
    }
    (errs.isEmpty,
      if (errs.isEmpty) "distinct-count sketches within 15% of exact; percentile ranks within ±0.01 of target"
      else errs.mkString("; "))
  }

  /** q54: each merged-signature Jaccard estimate against the EXACT
    * Jaccard of the per-language hashed-shingle unions (a merged
    * MinHash signature is by construction the signature of the union).
    * k=50 hashes → stderr ≤ 1/√50 ≈ 0.14; the 0.25 bound is ~2σ and
    * deterministic (seeded), so it either holds forever or flags a
    * real break. */
  private def corpusSketchVsExact(spark: SparkSession, sfDir: String,
      outDir: String): (Boolean, String) = {
    import graft.ops.{Dedup, TextStats}
    val p = 2147483647L
    val docs = Tables.documents(spark, sfDir)
    // identical shingle→hash universe as Dedup.minhashSignaturesOf
    val hs = docs
      .select(col("lang"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("lang"), explode(
        transform(Dedup.wordNgrams(col("toks"), 3),
          s => pmod(xxhash64(s), lit(p)))).as("h"))
      .distinct()
      .cache()
    val sizes = hs.groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n")).toMap
    val a = hs.select(col("lang").as("lang_a"), col("h"))
    val b = hs.select(col("lang").as("lang_b"), col("h"))
    val inter = a.join(b, "h").filter(col("lang_a") < col("lang_b"))
      .groupBy("lang_a", "lang_b").agg(count(lit(1)).as("i")).collect()
      .map(r => (r.getAs[String]("lang_a"), r.getAs[String]("lang_b")) -> r.getAs[Long]("i")).toMap
    hs.unpersist()
    val rows = out(spark, outDir, "q54_corpus_sketch")
      .select("lang_a", "lang_b", "est_jaccard").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val errs = ListBuffer.empty[String]
    if (rows.isEmpty) errs += "no language pairs emitted"
    var maxDev = 0.0
    rows.foreach { case (la, lb, est) =>
      if (est < 0 || est > 1) errs += f"($la,$lb): estimate $est%.3f outside [0,1]"
      val i = inter.getOrElse((la, lb), 0L).toDouble
      val exact = i / (sizes(la) + sizes(lb) - i)
      val dev = math.abs(est - exact)
      maxDev = math.max(maxDev, dev)
      if (dev > 0.25) errs += f"($la,$lb): estimate $est%.3f vs exact $exact%.3f"
    }
    (errs.isEmpty,
      if (errs.isEmpty) f"${rows.length} language pairs; estimates within 0.25 of exact union Jaccard (max dev $maxDev%.3f)"
      else errs.mkString("; "))
  }

  /** ml/Implicit (ALS): planted-block recovery recorded per round —
    * previously the one ML component with neither an oracle nor a
    * self-checks entry (round-14 verdict ask #8). A block-diagonal
    * implicit-feedback matrix is the one input whose correct ranking
    * is known a priori: 30 users × 24 items in 3 disjoint blocks,
    * user u interacting only with block u%3's 8 items. The seeded fit
    * must rank each user's own block above the other 16 items —
    * precision@8 against the plant, bound 0.95 mean (exactly 1.0 in
    * practice; slack because ALS, like any float iterative solver, is
    * not bit-stable across partitionings, so this is a bounded metric
    * rather than an exact hash — the declared SURVEY §5 policy for
    * seeded MLlib fits). */
  private def alsPlantedBlocks(spark: SparkSession): (Boolean, String) = {
    val inter = spark.range(0, 30).select(col("id").cast("int").as("user_id"))
      .crossJoin(spark.range(0, 8).select(col("id").cast("int").as("j")))
      .select(col("user_id"),
        ((col("user_id") % 3) * 8 + col("j")).cast("int").as("item_id"),
        lit(5.0).as("strength"))
    val model = graft.ml.Implicit.fit(inter, rank = 4, maxIter = 10, seed = 42L)
    val recs = graft.ml.Implicit.recommendForAllUsers(model, 8)
    val hits = recs.filter((col("item_id") / 8).cast("int") === col("user_id") % 3)
      .count()
    val total = 30L * 8L
    val precision = hits.toDouble / total
    (precision >= 0.95,
      f"planted-block recovery: precision@8 = $precision%.3f " +
        f"($hits/$total in-block recommendations; bound 0.95, 3 disjoint " +
        "blocks, seeded implicit ALS rank 4)")
  }

  /** Streaming ARRIVAL path recorded in the round artifact (round-12
    * verdict ask #7): drop q112's two batches as parquet files into a
    * landing zone, run the growing-index foreachBatch funnel
    * ([[graft.streaming.DocsStream.incrementalDedupStream]] with
    * growIndex=true, one file per micro-batch, arrival order pinned
    * via file mtimes), and compare the admitted END STATE against the
    * q112 verify dump — which the driver independently hash-checks
    * against the DuckDB recursive-CTE replay. Equality here therefore
    * chains: stream end-state ≡ engine chained-batch ≡ SQL oracle.
    * Id sets determine the batch labels too (batch A ⇔ id%10=0), so a
    * sorted-id comparison covers the full dump. */
  private def streamEqualsChainedBatch(spark: SparkSession, sfDir: String,
      outDir: String): (Boolean, String) = {
    val dump = java.nio.file.Paths.get(outDir, "q112_append_index_dedup")
    if (!java.nio.file.Files.exists(dump))
      return (false, "q112 dump missing from verify outDir")
    val expected = spark.read.parquet(dump.toString)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 10 >= 2)
    val landing = java.nio.file.Files.createTempDirectory("graft-sc-landing")
    docs.filter(col("doc_id") % 10 === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$landing/inc1")
    docs.filter(col("doc_id") % 10 === 1)
      .coalesce(1).write.mode("overwrite").parquet(s"$landing/inc2")
    // FileStreamSource orders by modification time: make inc2 strictly
    // newer so batch A is always the first micro-batch
    import scala.jdk.CollectionConverters._
    val now = System.currentTimeMillis()
    java.nio.file.Files.walk(java.nio.file.Paths.get(landing.toString))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { p =>
        val t = if (p.toString.contains("inc1")) now - 120000 else now
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(t))
      }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sc-ckpt")
    val admitted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val idx = graft.ops.Dedup.indexCorpus(corpus)
    val q = graft.streaming.DocsStream.incrementalDedupStream(
      graft.streaming.DocsStream.readDocs(spark, landing.toString, docs,
        maxFilesPerTrigger = Some(1)),
      idx, ckpt.toString,
      sink = df => df.select("doc_id").collect().foreach(r => admitted.add(r.getLong(0))),
      shingleSize = 3, maxJaccardDist = 0.4, growIndex = true)
    try q.awaitTermination(240000) finally q.stop()
    idx.unpersistAll()
    val streamed = admitted.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
    val ok = streamed.length > 0 && streamed.sameElements(expected)
    (ok,
      if (ok) s"stream admitted ${streamed.length} ids == q112 oracle-checked dump (growIndex, 2 micro-batches)"
      else s"stream admitted ${streamed.length} ids vs q112 dump ${expected.length}: " +
        s"missing=${expected.diff(streamed).take(5).mkString(",")} extra=${streamed.diff(expected).take(5).mkString(",")}")
  }

  /** Residual-index streaming ARRIVAL recorded in the round artifact
    * (round-19 verdict ask #7, the [[streamEqualsChainedBatch]] stance
    * for the retrieval tier): freeze the q226 base index, drop the
    * increment as two parquet files into a landing zone (arrival order
    * pinned via mtimes), grow the index through
    * [[graft.streaming.EmbStream.appendResidualStream]] (one file per
    * micro-batch — appendResidualIndex invoked verbatim under
    * foreachBatch with exactly-once checkpointing), then serve the
    * q226 probe batch from the stream-grown store and compare against
    * the q226 verify dump — which the driver independently hash-checks
    * against the full DuckDB residual-tier replay. Equality chains:
    * stream-grown serve ≡ engine batch append ≡ SQL oracle. */
  private def residualStreamEqualsAppend(spark: SparkSession, sfDir: String,
      outDir: String): (Boolean, String) = {
    val dump = java.nio.file.Paths.get(outDir, "q226_residual_index_append")
    if (!java.nio.file.Files.exists(dump))
      return (false, "q226 dump missing from verify outDir")
    def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
      df.select("query_id", "rank", "vec_id", "adc_d2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val expected = rows(spark.read.parquet(dump.toString))
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val inc = emb.filter(col("vec_id") % 5 === 0)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-sc-residx")
    graft.ops.Similarity.saveResidualIndex(base, idxDir.toString,
      nCents = 16, m = 8, nCodes = 16, rounds = 1)
    // increment ids are ≡ 0 (mod 5), so (mod 10) splits them {0, 5}
    // into two disjoint landing files — two micro-batches
    val landing = java.nio.file.Files.createTempDirectory("graft-sc-vland")
    inc.filter(col("vec_id") % 10 === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$landing/inc1")
    inc.filter(col("vec_id") % 10 === 5)
      .coalesce(1).write.mode("overwrite").parquet(s"$landing/inc2")
    import scala.jdk.CollectionConverters._
    val now = System.currentTimeMillis()
    java.nio.file.Files.walk(java.nio.file.Paths.get(landing.toString))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { p =>
        val t = if (p.toString.contains("inc1")) now - 120000 else now
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(t))
      }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sc-vckpt")
    val q = graft.streaming.EmbStream.appendResidualStream(
      graft.streaming.EmbStream.readVecs(spark, landing.toString, emb,
        maxFilesPerTrigger = Some(1)),
      idxDir.toString, ckpt.toString)
    try q.awaitTermination(240000) finally q.stop()
    val probes = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val served = rows(graft.ops.Similarity.serveResidualIndex(spark,
      idxDir.toString, probes, k = 10, nProbe = 4))
    val ok = served.nonEmpty && served == expected
    (ok,
      if (ok) s"stream-grown residual index serves ${served.length} rows == q226 oracle-checked dump (2 micro-batches, frozen centroids/books)"
      else s"stream-grown serve ${served.length} rows vs q226 dump ${expected.length}: " +
        s"first diff=${served.zip(expected).find(p => p._1 != p._2).map(_.toString).getOrElse("row-count mismatch")}")
  }
}
