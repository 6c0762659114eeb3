package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class Round19OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ------------------------ q220 residual-coded Lloyd-booked batch tier
  test("ivfAdcTopKBatchResidual: nCents=1 equals the raw Lloyd full scan (translation invariance)") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(43)
    val emb = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 7 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    // one cell ⇒ one shared integer translation x − c: the residual
    // Lloyd fit, the codes, the per-cell LUT and the ranking all equal
    // the raw-vector Lloyd system's, term by term (floor-means of
    // translated integers are translated floor-means)
    val routed = Similarity.ivfAdcTopKBatchResidual(emb, probes, k = 5,
      nCents = 1, nProbe = 1, m = 2, nCodes = 4, rounds = 1)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val books = Similarity.fitPqBooksLloyd(emb, m = 2, nCodes = 4,
      rounds = 1)
    val codes = Similarity.encodePqLloyd(emb, books)
    val full = Similarity.adcTopKBatchLloyd(codes, books, probes, k = 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(routed === full)
  }

  test("ivfAdcResidualLloydRecall: nCodes=n and nProbe=nCents reads recall 1 at every (query, k)") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(47)
    val emb = (0L until 24L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 6 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    // every residual its own codeword + every cell probed: the ADC
    // distance IS the exact distance (translation invariance), so the
    // composed ranking matches the exact one for every probe
    val got = Similarity.ivfAdcResidualLloydRecall(emb, probes,
      ks = Seq(1, 5, 10), nCents = 4, nProbe = 4, m = 2, nCodes = 24,
      rounds = 1).as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    got.foreach { case (qid, k, nOv, ppm) =>
      assert(nOv === k && ppm === 1000000L,
        s"query $qid k=$k: overlap $nOv, ppm $ppm")
    }
    // grid contract: 4 probes × 3 ks rows, no vanishing cells
    assert(got.length === 4 * 3)
  }

  test("adcTopKBatchLloyd at rounds=0 reproduces the medoid-book adcTopKBatch exactly") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(53)
    val emb = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 9 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    // rounds=0 IS the quantized medoid book: the integer path's
    // assignment and LUT equal the QuantSqDistExpr float path's term
    // by term, so the two query tiers rank identically
    val lb = Similarity.fitPqBooksLloyd(emb, m = 2, nCodes = 4, rounds = 0)
    val li = Similarity.adcTopKBatchLloyd(
      Similarity.encodePqLloyd(emb, lb), lb, probes, k = 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val mb = Similarity.fitPqBooks(emb, m = 2, nCodes = 4)
    val mf = Similarity.adcTopKBatch(
      Similarity.encodePq(emb, mb), mb, probes, k = 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(li === mf)
  }

  // ------------------------ q222 stored Lloyd codebook
  test("savePq/loadPq round-trips the Lloyd book byte-identically and encodePqLloyd refuses desync") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(59)
    val emb = (0L until 20L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val books = Similarity.fitPqBooksLloyd(emb, m = 2, nCodes = 4,
      rounds = 1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lloyd_pq").toString
    Similarity.savePq(books, dir)
    val stored = Similarity.loadPq(spark, dir)
    val a = books.orderBy("subspace", "code")
      .as[(Long, Long, Seq[Long])].collect().toSeq
    val b = stored.orderBy("subspace", "code")
      .as[(Long, Long, Seq[Long])].collect().toSeq
    assert(a === b)
    // encoding against the reloaded frame equals encoding against the
    // fit frame (the stored-equals-fit audit)
    val cf = Similarity.encodePqLloyd(emb, books)
      .as[(Long, Long, Long)].collect().toSeq
    val cs = Similarity.encodePqLloyd(emb, stored)
      .as[(Long, Long, Long)].collect().toSeq
    assert(cf === cs)
    // geometry desync refused with a contract message
    val wide = (0L until 20L).map(i =>
      (i, Array.fill(12)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.encodePqLloyd(wide, stored)
    }
    assert(e.getMessage.contains("geometry"))
  }

  // ------------------------ q225 stored residual index
  test("saveResidualIndex/serveResidualIndex: storage hop invisible, probed cells prune partitions") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(67)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 11 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_residx").toString
    Similarity.saveResidualIndex(emb, dir, nCents = 8, m = 2,
      nCodes = 4, rounds = 1)
    val served = Similarity.serveResidualIndex(spark, dir, probes,
      k = 5, nProbe = 2)
    val inline = Similarity.ivfAdcTopKBatchResidual(emb, probes, k = 5,
      nCents = 8, nProbe = 2, m = 2, nCodes = 4, rounds = 1)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(served.as[(Long, Long, Long, Long)].collect().toSeq === inline,
      "the storage hop must be semantically invisible")
    // the probed-cell filter must reach the code scan as a PARTITION
    // filter on the cell directories — serving a 2-probe batch from a
    // stored 1000-cell corpus must read the probed directories, not
    // the corpus
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") &&
      plan.replaceAll("#\\d+", "").contains("cell IN"),
      s"probed cells did not become a partition filter:\n$plan")
    // geometry desync refused from the STORED frame's own geometry
    val wide = (0L until 20L).map(i =>
      (i, Array.fill(12)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.serveResidualIndex(spark, dir,
        wide.select($"vec_id".as("query_id"), $"embedding"), k = 5,
        nProbe = 2)
    }
    assert(e.getMessage.contains("geometry"))
  }

  // ------------------------ q227 residual-tier nProbe sweep
  test("ivfAdcResidualLloydRecallSweep equals the per-nProbe single-point audits") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(73)
    val emb = (0L until 36L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 9 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val nps = Seq(1, 2, 4)
    val swept = Similarity.ivfAdcResidualLloydRecallSweep(emb, probes,
      ks = Seq(1, 5), nCents = 4, nProbes = nps, m = 2, nCodes = 4,
      rounds = 1).as[(Long, Long, Long, Long, Long)].collect().toSeq
    val single = nps.flatMap { np =>
      Similarity.ivfAdcResidualLloydRecall(emb, probes, ks = Seq(1, 5),
          nCents = 4, nProbe = np, m = 2, nCodes = 4, rounds = 1)
        .as[(Long, Long, Long, Long)].collect().toSeq
        .map(r => (np.toLong, r._1, r._2, r._3, r._4))
    }.sortBy(t => (t._1, t._2, t._3))
    assert(swept === single)
  }

  test("bpeStatsWith on a prefix-truncated merge list equals a fresh fit at that k") {
    // greedy BPE training is prefix-stable: round r depends only on
    // rounds < r, so take(k) of a longer fit IS the k-merge tokenizer
    // — what lets q221 serve four sizes from one fit
    val docs = Seq(
      (0L, "aa ab aa ba", "en"),
      (1L, "abab baba aa", "en"),
      (2L, "b a ab abab", "de")).toDF("doc_id", "text", "lang")
    val m8 = graft.text.Bpe.fit(docs, k = 8)
    Seq(2, 4, 8).foreach { k =>
      val trunc = graft.text.Bpe.bpeStatsWith(docs,
        new graft.text.Bpe.BpeMerges(m8.merges.take(k)))
        .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
      val fresh = graft.text.Bpe.bpeStats(docs, k = k)
        .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
      assert(trunc === fresh, s"k=$k")
    }
  }

  // ------------------------ q226 residual-index append
  test("appendResidualIndex: batch-split invariant and geometry-guarded") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(71)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val base = emb.filter($"vec_id" % 4 =!= 0)
    val inc = emb.filter($"vec_id" % 4 === 0)
    val probes = emb.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    def build(split: Boolean): Seq[(Long, Long, Long, Long)] = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_residx_app").toString
      Similarity.saveResidualIndex(base, dir, nCents = 4, m = 2,
        nCodes = 4, rounds = 1)
      if (split) {
        // daily increments vs one weekly batch: same index either way
        Similarity.appendResidualIndex(spark, inc.filter($"vec_id" < 20),
          dir)
        Similarity.appendResidualIndex(spark,
          inc.filter($"vec_id" >= 20), dir)
      } else Similarity.appendResidualIndex(spark, inc, dir)
      Similarity.serveResidualIndex(spark, dir, probes, k = 5,
        nProbe = 2).as[(Long, Long, Long, Long)].collect().toSeq
    }
    assert(build(split = false) === build(split = true))
    // an increment whose dim disagrees with the frozen geometry is
    // refused before any write
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_residx_app2").toString
    Similarity.saveResidualIndex(base, dir2, nCents = 4, m = 2,
      nCodes = 4, rounds = 1)
    val wide = (100L until 104L).map(i =>
      (i, Array.fill(12)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.appendResidualIndex(spark, wide, dir2)
    }
    assert(e.getMessage.contains("geometry"))
  }

  // ------------------------ q221 tokenizer vocab frontier
  test("bpeStats: per-doc piece counts are monotonically non-increasing in the merge count") {
    // each merge round only ever merges adjacent symbols — no round
    // can split — so the q221 frontier's BPE fertility axis is
    // non-increasing on ANY corpus, not just the measured one
    val docs = Seq(
      (0L, "aa ab aa ba", "en"),
      (1L, "abab baba aa", "en"),
      (2L, "b a ab abab", "de")).toDF("doc_id", "text", "lang")
    val byK = Seq(0, 2, 4).map { k =>
      k -> graft.text.Bpe.bpeStats(docs, k = k)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> r._3).toMap
    }
    byK.sliding(2).foreach { case Seq((k1, a), (k2, b)) =>
      a.keys.foreach { d =>
        assert(b(d) <= a(d),
          s"doc $d: pieces grew ${a(d)} -> ${b(d)} from k=$k1 to k=$k2")
      }
    }
  }
}
