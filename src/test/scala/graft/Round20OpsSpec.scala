package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class Round20OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ------------------------ selective salting (ann miner)
  test("ivfHardNegatives: selective salting equals unsalted on a hot-cell corpus") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(79)
    // 30 of 40 vectors are IDENTICAL (several seeded centroids land
    // inside the clump, distance 0 to each — the assignment tie-break
    // sends all 30 to the lowest-id one: one hot cell), the rest
    // spread — the exact shape selective salting splits on: the audit
    // must flag the clump's cell and leave the cold cells on the
    // plain join
    val emb = (0L until 40L).map { i =>
      val v =
        if (i < 30L) Array.fill(8)(0.5f)
        else Array.fill(8)(rnd.nextFloat() * 10f)
      (i, v, i % 3)
    }.toDF("vec_id", "embedding", "label")
    // the audit premise holds on this corpus: at least one cell is hot
    val cells = Similarity.ivfAssign(emb, nCents = 4, nProbe = 2)
      .select(col("cell"))
    val hot = graft.ops.SkewJoin.skewKeyAudit(cells, "cell").count()
    assert(hot >= 1, "test corpus failed to produce a hot cell")
    val plain = Similarity.ivfHardNegatives(emb, k = 3, nCents = 4,
      nProbe = 2).as[(Long, Long, Long, Long)].collect().toSeq
    val selective = Similarity.ivfHardNegatives(emb, k = 3, nCents = 4,
      nProbe = 2, numSalts = 8).as[(Long, Long, Long, Long)]
      .collect().toSeq
    assert(plain === selective)
  }

  test("ivfHardNegatives: selective salting equals unsalted when no cell is hot") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(83)
    val emb = (0L until 36L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()), i % 3)).toDF(
      "vec_id", "embedding", "label")
    val plain = Similarity.ivfHardNegatives(emb, k = 3, nCents = 4,
      nProbe = 2).as[(Long, Long, Long, Long)].collect().toSeq
    val selective = Similarity.ivfHardNegatives(emb, k = 3, nCents = 4,
      nProbe = 2, numSalts = 8).as[(Long, Long, Long, Long)]
      .collect().toSeq
    assert(plain === selective)
  }

  // ------------------------ q228 exact re-rank rung (IVFADC+R)
  test("ivfAdcResidualRerankRecall: every cell probed and C >= n degenerates to exact (recall 1)") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(89)
    val emb = (0L until 24L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 6 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    // nProbe = nCents ⇒ the retrieved set is the whole corpus once
    // C ≥ n, and the re-rank is exact ⇒ recall 10⁶ ppm at every k
    val got = Similarity.ivfAdcResidualRerankRecall(emb, probes,
      ks = Seq(1, 5, 10), cs = Seq(24), nCents = 4, nProbe = 4, m = 2,
      nCodes = 4, rounds = 1)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.length === 4 * 1 * 3, "grid: 4 probes × 1 C × 3 ks")
    got.foreach { case (c, qid, k, nOv, ppm) =>
      assert(nOv === k && ppm === 1000000L,
        s"C=$c query $qid k=$k: overlap $nOv, ppm $ppm")
    }
  }

  test("ivfAdcResidualRerankRecall: recall is monotone non-decreasing in C at every (query, k)") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(97)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    // exact re-rank of S(C) recovers exactly exact-top-k ∩ S(C), and
    // S(C) ⊆ S(C') for C ≤ C' — so the frontier can never dip (the
    // property ADC-only ranking lacks, q227's measured k=1 dip)
    val got = Similarity.ivfAdcResidualRerankRecall(emb, probes,
      ks = Seq(1, 5), cs = Seq(5, 10, 20), nCents = 4, nProbe = 2,
      m = 2, nCodes = 4, rounds = 1)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.length === 4 * 3 * 2, "grid filled")
    got.groupBy(t => (t._2, t._3)).foreach { case ((qid, k), rows) =>
      val byC = rows.sortBy(_._1).map(_._5)
      byC.sliding(2).foreach { case Seq(a, b) =>
        assert(b >= a, s"query $qid k=$k: recall dipped $a -> $b as C grew")
      }
    }
  }

  test("ivfAdcResidualRerankRecall dominates the ADC-only ranking at every (query, k) once C >= k") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(113)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    // set algebra: rerank hits(C,k) = |exact-top-k ∩ S(C)| and the
    // ADC-only top-k ⊆ S(C) whenever C ≥ k, so exact re-ranking can
    // never LOSE a true neighbor ADC-only ranking had — the window is
    // a pure upgrade at equal retrieval cost
    val adcOnly = Similarity.ivfAdcResidualLloydRecall(emb, probes,
      ks = Seq(1, 5, 10), nCents = 4, nProbe = 2, m = 2, nCodes = 4,
      rounds = 1).as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._4).toMap
    val reranked = Similarity.ivfAdcResidualRerankRecall(emb, probes,
      ks = Seq(1, 5, 10), cs = Seq(10), nCents = 4, nProbe = 2, m = 2,
      nCodes = 4, rounds = 1)
      .as[(Long, Long, Long, Long, Long)].collect()
    reranked.foreach { case (_, qid, k, _, ppm) =>
      assert(ppm >= adcOnly((qid, k)),
        s"query $qid k=$k: re-rank $ppm ppm < ADC-only ${adcOnly((qid, k))} ppm")
    }
  }

  // ------------------------ q229 Lloyd rounds frontier
  test("ivfAdcResidualLloydRoundsSweep equals the per-rounds single-point audits") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(101)
    val emb = (0L until 36L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 9 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val rds = Seq(0, 1, 2)
    // prefix-stability pin: the r-round book captured from one longer
    // Lloyd run must serve identically to a fresh r-round fit
    val swept = Similarity.ivfAdcResidualLloydRoundsSweep(emb, probes,
      ks = Seq(1, 5), nCents = 4, nProbe = 2, m = 2, nCodes = 4,
      roundsList = rds).as[(Long, Long, Long, Long, Long)]
      .collect().toSeq
    val single = rds.flatMap { r =>
      Similarity.ivfAdcResidualLloydRecall(emb, probes, ks = Seq(1, 5),
          nCents = 4, nProbe = 2, m = 2, nCodes = 4, rounds = r)
        .as[(Long, Long, Long, Long)].collect().toSeq
        .map(t => (r.toLong, t._1, t._2, t._3, t._4))
    }.sortBy(t => (t._1, t._2, t._3))
    assert(swept === single)
  }

  // ------------------------ residual-index streaming arrival
  test("appendResidualStream: stream-grown index serves identically to batch append, exactly-once across restart") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(103)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 4 =!= 0)
    val inc = emb.filter($"vec_id" % 4 === 0)
    val probes = emb.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    def serveRows(dir: String): Seq[(Long, Long, Long, Long)] =
      Similarity.serveResidualIndex(spark, dir, probes, k = 5,
        nProbe = 2).as[(Long, Long, Long, Long)].collect().toSeq
    // batch twin: one-shot append
    val batchDir = java.nio.file.Files
      .createTempDirectory("graft_restream_b").toString
    Similarity.saveResidualIndex(base, batchDir, nCents = 4, m = 2,
      nCodes = 4, rounds = 1)
    Similarity.appendResidualIndex(spark, inc, batchDir)
    val expected = serveRows(batchDir)
    // streamed twin: two landed files, stream STOPPED between them and
    // resumed from the same checkpoint — recovery must neither drop
    // file 2 nor replay file 1 (a replay would double file-1 ids'
    // code rows and corrupt their served sums)
    val streamDir = java.nio.file.Files
      .createTempDirectory("graft_restream_s").toString
    Similarity.saveResidualIndex(base, streamDir, nCents = 4, m = 2,
      nCodes = 4, rounds = 1)
    val landing = java.nio.file.Files
      .createTempDirectory("graft_restream_land").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_restream_ck").toString
    inc.filter($"vec_id" < 20).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/f1")
    def drain(): Unit = {
      val q = graft.streaming.EmbStream.appendResidualStream(
        graft.streaming.EmbStream.readVecs(spark, landing, emb),
        streamDir, ckpt)
      try q.awaitTermination(120000) finally q.stop()
    }
    drain() // pass 1: file 1 only
    inc.filter($"vec_id" >= 20).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/f2")
    drain() // pass 2 (restart from checkpoint): file 2 only
    drain() // pass 3: nothing new — must be a no-op, not a replay
    assert(serveRows(streamDir) === expected,
      "stream-grown serve must equal the one-shot batch append")
    // exactly-once at the storage level: every appended id holds
    // exactly m = 2 code rows (a replayed file would double its ids')
    val incCount = inc.count()
    val codeRows = spark.read.parquet(s"$streamDir/codes")
      .join(inc.select($"vec_id"), Seq("vec_id"), "left_semi").count()
    assert(codeRows === incCount * 2,
      s"expected ${incCount * 2} code rows for the increment, got $codeRows")
  }

  // ------------------------ q230 stored serve + exact re-rank
  test("serveResidualIndexRerank: every cell probed and C >= n serves the exact corpus top-k") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(109)
    val emb = (0L until 24L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 6 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_residx_rr").toString
    Similarity.saveResidualIndex(emb, dir, nCents = 4, m = 2,
      nCodes = 4, rounds = 1)
    val served = Similarity.serveResidualIndexRerank(spark, dir, probes,
      emb, k = 3, rerankC = 24, nProbe = 4)
    val got = served.as[(Long, Long, Long, Long)].collect().toSeq
    // ground truth straight from the data: ⌊x·1e4⌋ quantization, exact
    // integer distance, (dist, id) total order — computed on the
    // driver, no engine code shared
    val vecs = emb.as[(Long, Array[Float])].collect()
      .map { case (id, v) =>
        id -> v.map(x => math.floor(x.toDouble * 1e4).toLong)
      }.toMap
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expected = vecs.keys.toSeq.filter(_ % 6 == 0).sorted.flatMap { q =>
      vecs.toSeq.map { case (id, v) => (d2(vecs(q).toSeq, v.toSeq), id) }
        .sorted.take(3).zipWithIndex
        .map { case ((d, id), i) => (q, (i + 1).toLong, id, d) }
    }
    assert(got === expected,
      "with every cell probed and C >= n, the stored tier must degrade " +
        "gracefully into exact brute force")
    // the probed-cell filter must still reach the code scan as a
    // partition filter through the re-rank spelling. Since round 21
    // the returned frame shares ONE eagerly-collected evaluation of
    // the retrieval (it no longer re-plans the codes scan), so the
    // assertion reads the retrieval subtree the serve actually
    // executes, via the factored plan helper.
    val (adcPlanDf, _) = Similarity.serveResidualAdcTopPlan(spark, dir,
      probes, rerankC = 24, nProbe = 4)
    val plan = adcPlanDf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") &&
      plan.replaceAll("#\\d+", "").contains("cell IN"),
      s"probed cells did not become a partition filter:\n$plan")
  }

  // ------------------------ serve-path storage hygiene (r19 ADVICE)
  test("serveResidualIndex pins no RDD blocks after the serve is consumed") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(107)
    val emb = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 7 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_residx_hyg").toString
    Similarity.saveResidualIndex(emb, dir, nCents = 4, m = 2,
      nCodes = 4, rounds = 1)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Similarity.serveResidualIndex(spark, dir, probes, k = 5, nProbe = 2)
      .count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"serve call left ${leaked.size} persisted RDD(s) — the per-call " +
        "serving-loop leak the round-19 ADVICE flagged")
  }
}
