package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-21 (optimization round) internals pins: the serve-path
  * candidate fetch rewrite (collected-isin → broadcast join, one ADC
  * evaluation) and the streaming append's at-least-once idempotence
  * guard. Results themselves are pinned by the unchanged round-20
  * specs + the q230/q226 oracles — these specs pin the SHAPE the
  * optimization claims. */
class Round21OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("serveResidualIndexRerank: candidate fetch is a broadcast join, not a per-id In literal list") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(127)
    val emb = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 6 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_residx_bj").toString
    Similarity.saveResidualIndex(emb, dir, nCents = 4, m = 2,
      nCodes = 4, rounds = 1)
    val served = Similarity.serveResidualIndexRerank(spark, dir, probes,
      emb, k = 3, rerankC = 8, nProbe = 2)
    val plan = served.queryExecution.executedPlan.toString
      .replaceAll("#\\d+L?", "")
    // the raw-store fetch: no candidate-id In list anywhere (the old
    // spelling put |queries|·rerankC literals into the filter — a
    // plan-size/driver bottleneck at production batch scale); the
    // only remaining bounds on the store are the driver-side
    // [min,max] range (row-group pruning)
    assert(!plan.contains("vec_id IN"),
      s"candidate ids leaked into an In literal list:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate fetch is not a broadcast join:\n$plan")
    // the probed-cell PARTITION filter is the one place literals stay
    // the mechanism — the rewrite must not have lost it (it lives on
    // the retrieval subtree the serve evaluates once, eagerly)
    val (adcPlanDf, _) = Similarity.serveResidualAdcTopPlan(spark, dir,
      probes, rerankC = 8, nProbe = 2)
    val retrievalPlan = adcPlanDf.queryExecution.executedPlan.toString
      .replaceAll("#\\d+L?", "")
    assert(retrievalPlan.contains("PartitionFilters:") &&
      retrievalPlan.contains("cell IN"),
      s"probed-cell partition filter lost:\n$retrievalPlan")
  }

  test("serveResidualIndexRerank pins no RDD blocks after the serve is consumed") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(131)
    val emb = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 7 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_residx_rrhyg").toString
    Similarity.saveResidualIndex(emb, dir, nCents = 4, m = 2,
      nCodes = 4, rounds = 1)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Similarity.serveResidualIndexRerank(spark, dir, probes, emb, k = 3,
      rerankC = 8, nProbe = 2).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"re-rank serve left ${leaked.size} persisted RDD(s) — the ADC " +
        "pass must be shared via a bounded collect, not a pinned " +
        "checkpoint")
  }

  test("ivfHardNegatives selective audit releases its checkpoint blocks") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(137)
    val emb = (0L until 40L).map { i =>
      val v =
        if (i < 30L) Array.fill(8)(0.5f)
        else Array.fill(8)(rnd.nextFloat() * 10f)
      (i, v, i % 3)
    }.toDF("vec_id", "embedding", "label")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val negs = Similarity.ivfHardNegatives(emb, k = 3, nCents = 4,
      nProbe = 2, numSalts = 4)
    // at CONSTRUCTION time the audit has run and released its counts
    // checkpoint; only the routed frame's contract-pinned blocks (the
    // result plan still references them) may be registered
    negs.count()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // construct WITHOUT consuming, repeatedly — the round-20 ADVICE
    // accumulation shape: each call may pin only its own routed frame
    val perCall = (1 to 3).map { _ =>
      Similarity.ivfHardNegatives(emb, k = 3, nCents = 4, nProbe = 2,
        numSalts = 4)
      spark.sparkContext.getPersistentRDDs.keySet.size
    }
    // 1 routed checkpoint per live call is the documented contract;
    // the audit's counts checkpoint must NOT add a second per call
    assert(perCall.zipWithIndex.forall { case (n, i) => n <= i + 1 },
      s"selective audit accumulates pinned RDDs per call: $perCall")
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty)
  }

  test("appendBatchIdempotent: a replayed batch leaves the store unchanged, a half-replayed batch appends only the fresh rows") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(139)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 4 =!= 0)
    val inc1 = emb.filter($"vec_id" % 8 === 0)   // first increment
    val inc2 = emb.filter($"vec_id" % 8 === 4)   // second increment
    val probes = emb.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_residx_idem").toString
    Similarity.saveResidualIndex(base, dir, nCents = 4, m = 2,
      nCodes = 4, rounds = 1)
    def codes() = spark.read.parquet(s"$dir/codes")
    def serveRows() = Similarity.serveResidualIndex(spark, dir, probes,
      k = 5, nProbe = 2).as[(Long, Long, Long, Long)].collect().toSeq
    graft.streaming.EmbStream.appendBatchIdempotent(inc1, dir,
      "vec_id", "embedding", 1e4)
    val afterFirst = codes().count()
    val servedFirst = serveRows()
    // the at-least-once window: the SAME batch body runs again (crash
    // after parquet append, before the checkpoint offset commit) —
    // without the guard this doubles every inc1 id's code rows and
    // silently corrupts its served ADC sums
    graft.streaming.EmbStream.appendBatchIdempotent(inc1, dir,
      "vec_id", "embedding", 1e4)
    assert(codes().count() === afterFirst,
      "replayed batch re-appended rows — the idempotence guard failed")
    assert(serveRows() === servedFirst)
    // a half-replayed batch (retry with a widened file set): only the
    // genuinely new ids may land
    graft.streaming.EmbStream.appendBatchIdempotent(
      inc1.unionByName(inc2), dir, "vec_id", "embedding", 1e4)
    val expected = afterFirst + inc2.count() * 2 // m = 2 rows per id
    assert(codes().count() === expected,
      s"half-replayed batch: expected $expected code rows, got ${codes().count()}")
    // and the grown store equals the batch twin built in one shot
    val twinDir = java.nio.file.Files
      .createTempDirectory("graft_residx_idem_t").toString
    Similarity.saveResidualIndex(base, twinDir, nCents = 4, m = 2,
      nCodes = 4, rounds = 1)
    Similarity.appendResidualIndex(spark,
      inc1.unionByName(inc2), twinDir)
    val twinServe = Similarity.serveResidualIndex(spark, twinDir,
      probes, k = 5, nProbe = 2).as[(Long, Long, Long, Long)]
      .collect().toSeq
    assert(serveRows() === twinServe)
  }

  test("unigram fit: driver fast path builds the SAME vocab as the distributed walks") {
    // smallVocabThreshold = 0 forces the distributed spelling; the
    // default takes the round-21 bounded-collect driver fold — the
    // fitted (piece, surprisal) tables must be identical, including
    // count ties (broken by codepoint order) and the single-char
    // max-dedupe rule
    val corpora = Seq(
      Seq((1L, "aa aa ab"), (2L, "aab x")),
      Seq((1L, "b a b a"), (2L, "ab ba")),          // count ties fire
      Seq((1L, "zz zz z"), (2L, "z zz y")))         // char-vs-vocab dedupe
    for (c <- corpora; n <- Seq(1, 2, 4)) {
      val docs = c.toDF("doc_id", "text")
      val fast = graft.text.UnigramLm.fit(docs, vocabN = n)
      val dist = graft.text.UnigramLm.fit(docs, vocabN = n,
        smallVocabThreshold = 0)
      assert(fast.entries === dist.entries,
        s"driver/distributed unigram vocab drift at n=$n on $c")
    }
    // fitAll (one word-count job, per-size driver folds) must equal
    // per-size fits — the q221 sweep contract
    val docs = corpora.head.toDF("doc_id", "text")
    val all = graft.text.UnigramLm.fitAll(docs, Seq(1, 2, 4))
    for (n <- Seq(1, 2, 4))
      assert(all(n).entries ===
        graft.text.UnigramLm.fit(docs, vocabN = n).entries,
        s"fitAll drift at n=$n")
  }

  test("wordpiece vocab is prefix-stable: top-n fit equals the top-32 read at its prefix (the q221 one-fit rule)") {
    val docs = Seq(
      (1L, "low lower lowest low low"),
      (2L, "new newer newest new"),
      (3L, "wider wide wide width")).toDF("doc_id", "text")
    val v32 = graft.ops.TextStats.vocabTopN(docs, 32)
      .orderBy("rank").collect().map(_.getString(1)).toIndexedSeq
    for (n <- Seq(1, 2, 4, 8)) {
      val direct = graft.ops.TextStats.vocabTopN(docs, n)
        .orderBy("rank").collect().map(_.getString(1)).toIndexedSeq
      assert(direct === v32.take(math.min(n, v32.length)),
        s"vocabTopN($n) is not a prefix of vocabTopN(32)")
      // and the stats the prefix-built vocab produces match the
      // per-size fit path exactly
      val viaPrefix = docs.select(col("doc_id"),
          graft.text.Subword.statsCol(col("text"),
            graft.text.SubwordVocab.build(v32.take(n))).as("s"))
        .orderBy("doc_id").collect().map(_.getSeq[Long](1)).toSeq
      val viaFit = graft.text.Subword.subwordStats(docs, vocabN = n)
        .orderBy("doc_id").collect()
        .map(r => Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(viaPrefix === viaFit, s"prefix-vocab stats drift at n=$n")
    }
  }
}
