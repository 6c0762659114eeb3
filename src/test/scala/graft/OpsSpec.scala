package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Chunking, Dedup, Multimodal, Similarity, SimHash, TextStats}

class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en"),
    (1L, "the quick brown fox jumps over the lazy cat", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"), // dup of 0
    (3L, "completely different words about spark engines", "en"),
    (4L, "der hund ist nicht ein katze und das haus", "de")
  ).toDF("doc_id", "text", "lang")

  test("cosine: identical vectors → 1, orthogonal → 0") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    ).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
  }

  test("bruteForceKnn ranks self first with cosine 1") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceKnn(emb, Seq(1.0, 0.0, 0.0), 3).collect()
    assert(top.head.getAs[Long]("vec_id") === 0L)
    assert(math.abs(top.head.getAs[Double]("cosine") - 1.0) < 1e-12)
    assert(top(1).getAs[Long]("vec_id") === 1L)
  }

  test("exact dedup groups find the duplicate with min-id survivor") {
    val groups = Dedup.exactGroups(docs, "text", "doc_id").collect()
    val dup = groups.find(_.getAs[Long]("n_copies") == 2L)
    assert(dup.isDefined && dup.get.getAs[Long]("keep_id") === 0L)
    assert(Dedup.dropExact(docs, "text", "doc_id").count() === 4L)
    assert(Dedup.dropExact(docs, "text", "doc_id")
      .filter(col("doc_id") === 2L).count() === 0L)
  }

  test("native banded minhash detects the exact duplicate at distance 0") {
    val pairs = Dedup.minhashPairs(docs, shingleSize = 2, maxJaccardDist = 0.5).collect()
    val dup = pairs.find(r => r.getAs[Long]("doc_a") == 0L && r.getAs[Long]("doc_b") == 2L)
    assert(dup.isDefined, s"expected (0,2) dup pair in ${pairs.mkString(",")}")
    assert(dup.get.getAs[Double]("jaccard_dist") === 0.0)
    // near-identical docs (0 vs 1) must also surface as candidates
    assert(pairs.exists(r => r.getAs[Long]("doc_a") == 0L && r.getAs[Long]("doc_b") == 1L))
  }

  test("simhash: identical docs collide, near-dups within few bits") {
    val sigs = Dedup.simhashSignatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sigs(0L) === sigs(2L))
    val hamming01 = java.lang.Long.bitCount(sigs(0L) ^ sigs(1L))
    val hamming03 = java.lang.Long.bitCount(sigs(0L) ^ sigs(3L))
    assert(hamming01 < hamming03, "one-word edit must be closer than disjoint text")
    val cands = Dedup.simhashCandidates(docs, maxHamming = 3).collect()
    assert(cands.exists(r => r.getAs[Long]("doc_a") == 0L && r.getAs[Long]("doc_b") == 2L))
  }

  test("banded minhash recall: catches planted near-duplicates") {
    // 40 base docs of 60 distinct tokens each; each base gets a copy
    // with 6 tokens changed (~90% token overlap → high bigram jaccard)
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until 60).map(j => s"w${i}_$j").mkString(" "))
    }
    val dups = base.map { case (i, text) =>
      val toks = text.split(" ")
      (i + 1000L, (toks.take(54) ++ (0 until 6).map(j => s"x${i}_$j")).mkString(" "))
    }
    val df = (base ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, shingleSize = 2, maxJaccardDist = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val found = (0 until 40).count(i => pairs.contains((i.toLong, i + 1000L)))
    assert(found >= 36, s"recall too low: $found/40 planted near-dup pairs found")
    // precision: no pair between unrelated docs (disjoint vocabularies)
    val falsePairs = pairs.filter { case (a, b) => (b - a) != 1000L }
    assert(falsePairs.isEmpty, s"false positives: $falsePairs")
  }

  test("incremental minhash agrees with the all-pairs run on planted cross-set dups") {
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until 60).map(j => s"w${i}_$j").mkString(" "))
    }
    val dups = base.map { case (i, text) =>
      val toks = text.split(" ")
      (i + 1000L, (toks.take(54) ++ (0 until 6).map(j => s"x${i}_$j")).mkString(" "))
    }
    val corpus = base.toDF("doc_id", "text")
    val batch = dups.toDF("doc_id", "text")
    val inc = Dedup.incrementalMinhashPairs(batch, corpus,
        shingleSize = 2, maxJaccardDist = 0.5).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id")) ->
        r.getAs[Double]("jaccard_dist")).toMap
    val found = (0 until 40).count(i => inc.contains((i + 1000L, i.toLong)))
    assert(found >= 36, s"recall too low: $found/40 planted cross-set pairs found")
    assert(inc.keys.forall { case (n, c) => n >= 1000L && c < 1000L },
      "every pair must be batch-side × corpus-side")
    // metamorphic: the all-pairs run over the union, restricted to
    // cross-set pairs, must report the same distances
    val all = Dedup.minhashPairs(corpus.union(batch), shingleSize = 2,
        maxJaccardDist = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_b"), r.getAs[Long]("doc_a")) ->
        r.getAs[Double]("jaccard_dist")).toMap
    inc.foreach { case (pair, d) =>
      assert(all.get(pair).exists(x => math.abs(x - d) < 1e-12),
        s"pair $pair: incremental $d vs all-pairs ${all.get(pair)}")
    }
  }

  test("incremental minhash: hot corpus bucket collapses to a rep star, self-pairs excluded") {
    val flood = (0 until 500).map(i =>
      (i.toLong, "the same boilerplate text repeated in every document"))
    val corpus = flood.toDF("doc_id", "text")
    val batch = (1000 until 1005).map(i =>
      (i.toLong, "the same boilerplate text repeated in every document"))
      .toDF("doc_id", "text")
    val pairs = Dedup.incrementalMinhashPairs(batch, corpus, shingleSize = 2)
      .collect()
    assert(pairs.length === 10, s"expected two rep edges per batch doc, got ${pairs.length}")
    assert(pairs.forall(r => Set(0L, 499L)(r.getAs[Long]("corpus_id"))),
      "every edge must anchor at a corpus bucket representative (min or max id)")
    // overlap case: a batch that IS part of the corpus must not
    // self-pair but still links to its duplicates
    val overlap = Dedup.incrementalMinhashPairs(
      corpus.filter(col("doc_id") === 0L), corpus, shingleSize = 2).collect()
    assert(overlap.forall(r => r.getAs[Long]("corpus_id") != 0L))
    assert(overlap.nonEmpty)
  }

  test("incrementalDeduplicate: exact/cross/within layers admit the right batch docs") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),       // exact dup of corpus 1
      (12L, "one two three four five six EIGHT"),          // near-dup of corpus 3
      (14L, "completely different text about something"),  // fresh
      (16L, "completely different text about something"),  // exact dup of 14 → dropped
      (18L, "completely different text about something else here"), // near-dup of 14 → clustered
      (20L, "unrelated totally novel document content"))   // fresh
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val admitted = graft.ops.Dedup.incrementalDeduplicate(batch, corpus,
        shingleSize = 2, maxJaccardDist = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(admitted === Array(14L, 20L),
      s"expected 14 (cluster survivor) and 20 (fresh), got ${admitted.mkString(",")}")
    // metamorphic: with an EMPTY corpus the funnel must equal the
    // batch-only full dedup funnel
    val emptyCorpus = corpus.filter(lit(false))
    val incAlone = graft.ops.Dedup.incrementalDeduplicate(batch, emptyCorpus,
        shingleSize = 2, maxJaccardDist = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fullAlone = graft.ops.Dedup.deduplicate(batch,
        shingleSize = 2, maxJaccardDist = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(incAlone === fullAlone)
  }

  test("incremental funnel: hot-bucket star rep is chosen among cross-layer survivors") {
    // regression: when band rows were semi-joined to kept ids only
    // AFTER candidate generation, a hot bucket's star representative
    // could be a doc the cross layer had already dropped — its star
    // edges then died in the filter and the bucket's surviving
    // near-dups were admitted as duplicates. Construction: docs 1/2/3
    // share one hot band bucket (maxBandBucket=2 < 3 members, star rep
    // = min id = 1); doc 1 is token-identical to the corpus doc (dist
    // 0 → cross-dropped) while 2/3 sit one shingle away (dist 1/19 ≈
    // 0.053 > 0.03 → kept); 2 and 3 are token-identical to each other
    // (whitespace-only text difference), so 3 must be dropped as 2's
    // within-batch near-dup.
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val baseGapped = (1 to 20).map(i => s"w$i").mkString("  ") // same tokens, distinct text
    val corpus = Seq((100L, s"$baseGapped zz9")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, s"$base zz9"), // token-identical to corpus doc → cross-dropped
      (2L, base),         // one shingle short of the corpus doc → kept
      (3L, baseGapped)    // token-identical to 2 → the pair that must be caught
    ).toDF("doc_id", "text")
    val admitted = Dedup.incrementalDeduplicate(batch, corpus,
        shingleSize = 3, maxJaccardDist = 0.03,
        bands = 5, rowsPerBand = 1, maxBandBucket = 2)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(admitted === Array(2L),
      s"expected only doc 2 (1 is in the corpus, 3 is 2's near-dup), got ${admitted.mkString(",")}")
  }

  test("band-bucket skew guard: 1k identical docs emit a star, not a clique") {
    // the stop-shingle flood: every document identical → every band
    // bucket holds all 1000 ids. Without the cap the candidate join
    // emits 1000·999/2 ≈ 500k rows into one task; with it, each hot
    // bucket links members to the min-id representative → 999 pairs.
    val flood = (0 until 1000).map(i =>
      (i.toLong, "the same boilerplate text repeated in every document"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(flood, shingleSize = 2).collect()
    assert(pairs.length === 999,
      s"expected a 999-edge star from the skew guard, got ${pairs.length}")
    assert(pairs.forall(_.getAs[Long]("doc_a") == 0L),
      "every star edge must anchor at the bucket representative")
    assert(pairs.forall(_.getAs[Double]("jaccard_dist") == 0.0))
    // connectivity is what dedup needs — the star keeps one cluster
    val clusters = Dedup.connectedComponents(
      Dedup.minhashPairs(flood, shingleSize = 2))
      .select("cluster").distinct().collect()
    assert(clusters.length === 1)
  }

  test("spanContaminationScores: planted verbatim spans yield exact run structure") {
    // benchmark doc: 30 tokens b1..b30. Corpus doc 1 embeds a verbatim
    // 13-token benchmark span (b1..b13) inside its own filler — exactly
    // ONE matching 13-gram → run of 1, span 13 tokens. Corpus doc 2
    // embeds b1..b20 → 8 consecutive matching grams → span 20 tokens.
    // Corpus doc 3 shares nothing.
    val bench = (1 to 30).map(i => s"b$i").mkString(" ")
    val span13 = (1 to 13).map(i => s"b$i").mkString(" ")
    val span20 = (1 to 20).map(i => s"b$i").mkString(" ")
    val filler = (1 to 15).map(i => s"f$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$filler $span13 $filler"),
      (2L, s"$filler $span20"),
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val ref = Seq((100L, bench)).toDF("doc_id", "text")
    val got = Dedup.spanContaminationScores(corpus, ref, shingleSize = 13)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_matched_grams"),
        r.getAs[Long]("n_runs"), r.getAs[Long]("max_run_grams"),
        r.getAs[Long]("max_span_tokens")))
    assert(got === Array(
      (1L, 1L, 1L, 1L, 13L),
      (2L, 8L, 1L, 8L, 20L)),
      s"got ${got.mkString(";")}")
    // two disjoint leaked spans in one doc → two islands
    val twoSpans = Seq(
      (7L, s"$span13 $filler $span13")).toDF("doc_id", "text")
    val rows = Dedup.spanContaminationScores(twoSpans, ref, shingleSize = 13)
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("n_runs") === 2L)
    assert(r.getAs[Long]("max_run_grams") === 1L)
    assert(r.getAs[Long]("max_span_tokens") === 13L)
  }

  test("stored corpus index: parquet round-trip preserves admissions, band scan keeps bucketing") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven"),
      (5L, "some other corpus text entirely different here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "one two three four five six EIGHT"),  // near-dup of corpus 3
      (20L, "unrelated totally novel document content words")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-idx").toString
    val built = Dedup.indexCorpus(docs)
    Dedup.saveIndex(spark, built, dir, table = "graft_test_band_rows")
    val stored = Dedup.loadIndex(spark, dir, table = "graft_test_band_rows")
    val fresh = Dedup.incrementalDeduplicateIndexed(batch, built, maxJaccardDist = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val viaStore = Dedup.incrementalDeduplicateIndexed(batch, stored, maxJaccardDist = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(viaStore.sameElements(fresh), s"stored ${viaStore.mkString(",")} vs fresh ${fresh.mkString(",")}")
    assert(viaStore === Array(20L))
    built.unpersistAll()
    // the stored band-row table must keep its bucketing: a (band, key)
    // equi-join against it plans with an exchange ONLY on the probe
    // side (broadcast disabled so the join can't sidestep the check) —
    // the corpus scan itself reads its buckets with no shuffle
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = Seq((0, 1L, 99L)).toDF("band", "key", "probe_id")
      val plan = probe.join(spark.table("graft_test_band_rows"), Seq("band", "key"))
        .queryExecution.executedPlan.toString
      val nExchanges = "Exchange hashpartitioning".r.findAllMatchIn(plan).length
      assert(nExchanges === 1,
        s"expected only the probe side to shuffle against the bucketed band table:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
  }

  test("appendToIndex: chained increments equal re-indexing the grown corpus") {
    val corpus0 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "brand new content about distributed engines today"),
      (12L, "one two three four five six EIGHT"))       // near-dup of corpus 3
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, "brand new content about distributed engines TONIGHT"), // near-dup of ADMITTED 10
      (22L, "and a completely fresh topic nobody wrote before"))
      .toDF("doc_id", "text")
    val idx0 = Dedup.indexCorpus(corpus0)
    val adm1 = Dedup.incrementalDeduplicateIndexed(batch1, idx0, maxJaccardDist = 0.5)
      .localCheckpoint(true)
    assert(adm1.select("doc_id").collect().map(_.getLong(0)).sorted === Array(10L))
    val idx1 = Dedup.appendToIndex(idx0, adm1)
    val adm2 = Dedup.incrementalDeduplicateIndexed(batch2, idx1, maxJaccardDist = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // 20 must be rejected against the GROWN index (its only near-dup
    // is an appended doc, invisible to idx0) — equal to re-indexing
    val viaReindex = Dedup.incrementalDeduplicate(batch2,
        corpus0.unionByName(adm1.select("doc_id", "text")), maxJaccardDist = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(adm2 === Array(22L), s"got ${adm2.mkString(",")}")
    assert(adm2 === viaReindex)
    idx0.unpersistAll()
  }

  test("unigramFamiliarity: hand-computed corpus frequencies") {
    // corpus: "a" appears 4 times, "b" 2, "c" 1, "d" 1
    val df = Seq(
      (1L, "a a b"),   // freqs 4,4,2 → fam 10, rare(≤2): b → 1, min 2
      (2L, "a b c"),   // freqs 4,2,1 → fam 7, rare: b,c → 2, min 1
      (3L, "a d")      // freqs 4,1 → fam 5, rare: d → 1, min 1
    ).toDF("doc_id", "text")
    val got = TextStats.unigramFamiliarity(df)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tok"),
        r.getAs[Long]("familiarity"), r.getAs[Long]("n_rare"),
        r.getAs[Long]("min_count")))
    assert(got === Array(
      (1L, 3L, 10L, 1L, 2L),
      (2L, 3L, 7L, 2L, 1L),
      (3L, 2L, 5L, 1L, 1L)), got.mkString(";"))
  }

  test("perceptualHash: hand-computed difference hash; identical payloads collide") {
    // payload "aab": bytes 97,97,98 → bins 1 (×2), 2 (×1); dim 4 →
    // hist [0,2,1,0]; bits: b0: 0>2 no, b1: 2>1 yes, b2: 1>0 yes,
    // b3: 0>0 no → phash 0b0110 = 6
    val assets = Seq(
      (1L, "aab".getBytes("UTF-8")),
      (2L, "aab".getBytes("UTF-8")),   // identical → same hash
      (3L, "zzzz".getBytes("UTF-8")))  // different histogram
      .toDF("asset_id", "payload")
    val got = graft.ops.Multimodal.perceptualHash(spark, assets, dim = 4)
      .collect().map(h => h.asset_id -> h.phash).toMap
    assert(got(1L) === 6L, s"got ${got(1L)}")
    assert(got(1L) === got(2L))
    assert(got(1L) !== got(3L))
  }

  test("deduplicate defaults a reliable checkpoint dir in local mode") {
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    // a token-window CHAIN: consecutive docs share 27/33 tokens
    // (jaccard dist ≈ 0.19 ≤ 0.3), docs two apart only 0.35 — so the
    // cluster is a path and min-label propagation needs ~n rounds,
    // crossing the every-3rd-round checkpoint more than once
    val toks = (0 until 66).map(j => s"tok$j")
    val chain = (0 until 12).map(i =>
      (i.toLong, toks.slice(i * 3, i * 3 + 30).mkString(" ")))
      .toDF("doc_id", "text")
    val survivors = Dedup.deduplicate(chain).collect()
    assert(survivors.length === 1, "the whole chain is one near-dup cluster")
    assert(survivors.head.getAs[Long]("doc_id") === 0L)
    val dir = sc.getCheckpointDir
    assert(dir.isDefined, "deduplicate must default a checkpoint dir in local mode")
    // the reliable-checkpoint path actually wrote RDD checkpoint data
    if (prior.isEmpty) {
      val files = new java.io.File(new java.net.URI(dir.get))
      def count(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(count).sum else 1
      assert(count(files) > 0, s"no checkpoint data under ${dir.get}")
    }
  }

  test("connected components: a 100-link chain converges within maxIter") {
    // diameter 100 ≫ maxIter 10: one-hop min-label propagation would
    // terminate UNCONVERGED here — only the pointer-halving update
    // (O(log diameter) rounds) can label the whole chain correctly
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // smallGraphThreshold = 0 forces the DISTRIBUTED loop (the default
    // gate would route a 100-edge graph to the driver fast path)
    val labels = Dedup.connectedComponents(chain, smallGraphThreshold = 0)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(labels.size === 101)
    assert(labels.values.forall(_ == 0L),
      "every vertex of the chain must reach the min label 0")
  }

  test("connected components: driver fast path equals the distributed loop") {
    // random-ish fixed graph with chains, triangles, isolated pairs
    val pairs = Seq(
      (5L, 9L), (9L, 2L), (2L, 14L),       // chain, min 2
      (30L, 31L), (31L, 32L), (30L, 32L),  // triangle, min 30
      (100L, 7L),                          // pair, min 7
      (50L, 51L)
    ).toDF("doc_a", "doc_b")
    val fast = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(pairs, smallGraphThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === dist, s"fast=$fast dist=$dist")
    assert(fast(14L) === 2L && fast(32L) === 30L && fast(100L) === 7L)
  }

  test("connected components: chains and triangles collapse to min-id clusters") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain → cluster 1
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle → cluster 10
      (20L, 21L)                       // pair → cluster 20
    ).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L), s"chain: $cc")
    assert(Seq(10L, 11L, 12L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L).forall(cc(_) == 20L))
  }

  test("deduplicate: planted duplicate family keeps exactly one survivor") {
    // family: one base doc + exact dup + near dup; plus unrelated docs
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (0L, base), (1L, base), // exact dup of 0
      (2L, base.replace("kappa", "lambda")), // near dup of 0
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "red orange yellow green blue indigo violet pink brown black")
    ).toDF("doc_id", "text")
    val kept = Dedup.deduplicate(corpus, shingleSize = 2, maxJaccardDist = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(0L, 3L, 4L), s"expected survivors 0,3,4 got ${kept.mkString(",")}")
  }

  test("MinHashMerge aggregate: monoid min-merge with map-side partials") {
    import graft.ops.{Dedup, MinHashMerge}
    val sigs = Dedup.minhashSignaturesOf(docs, numHashes = 20)
    // manual elementwise min across all docs
    val all = sigs.collect().map(_.getSeq[Long](1))
    val expected = all.reduce((x, y) => x.zip(y).map { case (a, b) => math.min(a, b) })
    val merged = sigs.repartition(5)
      .agg(MinHashMerge.minhashMerge(col("sig"), 20).as("m"))
      .collect().head.getSeq[Long](0)
    assert(merged === expected, "merged signature must equal elementwise min")
    // identical docs (0 and 2): estimated jaccard of their sigs is 1.0
    val a = sigs.filter(col("doc_id") === 0L).select(col("sig").as("sa"))
    val b = sigs.filter(col("doc_id") === 2L).select(col("sig").as("sb"))
    val est = a.crossJoin(b)
      .select(MinHashMerge.estimatedJaccard(col("sa"), col("sb")))
      .collect().head.getDouble(0)
    assert(est === 1.0)
  }

  test("simhash is deterministic and order-insensitive (bag semantics)") {
    assert(SimHash.ofTokens(Iterator("a", "b", "c")) ===
      SimHash.ofTokens(Iterator("c", "a", "b")))
    assert(SimHash.fnv1a64("token") === SimHash.fnv1a64("token"))
  }

  test("ngram jaccard: dup pair → 1.0; one-token edit shares most bigrams") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 2, window = 25, minJaccard = 0.1)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(pairs((0L, 2L)) === 1.0)
    assert(pairs.get((0L, 3L)).isEmpty, "disjoint texts must not pair")
    assert(pairs((0L, 1L)) > 0.5)
  }

  test("wordNgrams handles docs shorter than n") {
    val out = Seq((0L, "single")).toDF("doc_id", "text")
      .select(Dedup.wordNgrams(TextStats.tokens(col("text")), 2).as("g"))
      .collect().head.getSeq[String](0)
    assert(out.isEmpty)
  }

  test("fingerprints: bag ignores order, rolling does not") {
    val df = Seq(
      (0L, "alpha beta gamma"),
      (1L, "gamma beta alpha"),
      (2L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val rows = df.select(col("doc_id"),
      TextStats.bagFingerprint(col("text")).as("bag"),
      TextStats.rollingFingerprint(col("text")).as("roll")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(0L)._1 === rows(1L)._1, "bag fingerprint must be order-insensitive")
    assert(rows(0L)._2 !== rows(1L)._2, "rolling fingerprint must be order-sensitive")
    assert(rows(0L) === rows(2L))
  }

  test("fingerprints: non-ASCII first chars hash by CODEPOINT, not UTF-8 byte") {
    // 'é' = U+00E9 (233); Spark ascii() would yield the lead byte 0xC3
    // as a NEGATIVE signed value (-61) and diverge from DuckDB's
    // codepoint-wise ascii() — the round-12-advice trap, fixed via
    // Classifier.firstCodepoint. Hand computation:
    //   code("éa") = 233*131 + 2; code("b") = 98*131 + 1
    //   rolling = ((0*31 + c1) % p)*31 + c2 % p
    //   bag = (1000003*2 + (233*31 + 2*7) + (98*31 + 1*7)) % p
    val p = 1000000007L
    val c1 = 233L * 131 + 2
    val c2 = 98L * 131 + 1
    val roll = ((c1 % p) * 31 + c2) % p
    val bag = (1000003L * 2 + (233 * 31 + 2 * 7) + (98 * 31 + 1 * 7)) % p
    val r = Seq((0L, "éa b")).toDF("doc_id", "text").select(
      TextStats.bagFingerprint(col("text")),
      TextStats.rollingFingerprint(col("text"))).collect().head
    assert(r.getLong(0) === bag)
    assert(r.getLong(1) === roll)
  }

  test("langid: marker heuristic separates en/de, CJK → zh") {
    val df = Seq(
      (0L, "the cat and the dog is in the house"),
      (1L, "der hund und die katze ist nicht ein haus"),
      (2L, "这 是 中文 文本"),
      (3L, "zzz qqq www")
    ).toDF("doc_id", "text")
    val preds = df.select(col("doc_id"), TextStats.predictedLang(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(0L) === "en")
    assert(preds(1L) === "de")
    assert(preds(2L) === "zh")
    assert(preds(3L) === "und")
  }

  test("chunking: windows overlap correctly and reconstruct the document") {
    val doc = Seq((1L, (1 to 95).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = graft.ops.Chunking.chunkByTokens(doc, chunkSize = 50, overlap = 10)
      .orderBy("chunk_idx").collect()
    assert(chunks.length === 3) // starts 0, 40, 80
    val c0 = chunks(0).getAs[String]("chunk_text").split(" ")
    val c1 = chunks(1).getAs[String]("chunk_text").split(" ")
    val c2 = chunks(2).getAs[String]("chunk_text").split(" ")
    assert(c0.length === 50 && c1.length === 50 && c2.length === 15)
    assert(c0.takeRight(10).toSeq === c1.take(10).toSeq, "10-token overlap")
    // stitching chunks (dropping overlaps) reconstructs the doc
    val stitched = c0.toSeq ++ c1.drop(10) ++ c2.drop(10)
    assert(stitched === (1 to 95).map(i => s"t$i"))
  }

  test("masking scrubs digit runs and counts redactions") {
    val df = Seq((1L, "call 555 then 1234 ok")).toDF("id", "s")
    val r = df.select(
      graft.ops.Chunking.maskPattern(col("s"), graft.ops.Chunking.digitRunPattern, "#").as("m"),
      graft.ops.Chunking.countPattern(col("s"), graft.ops.Chunking.digitRunPattern).as("n"))
      .collect().head
    assert(r.getString(0) === "call # then # ok")
    assert(r.getLong(1) === 2L)
  }

  test("dataset split: stable assignment with roughly correct proportions") {
    val ids = spark.range(10000).toDF("id")
    val splits = ids.select(col("id"), graft.ops.Splits.assignSplit(col("id")).as("s"))
    val counts = splits.groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 8000L) < 400, s"train ${counts("train")}")
    assert(math.abs(counts("val") - 1000L) < 200)
    assert(math.abs(counts("test") - 1000L) < 200)
    // stability: same ids → same assignment under different partitioning
    val again = ids.repartition(7)
      .select(col("id"), graft.ops.Splits.assignSplit(col("id")).as("s"))
    assert(splits.exceptAll(again).count() === 0L)
    // stratified sample keeps only requested strata, seeded
    val docs2 = docs.select(col("doc_id"), col("lang"))
    val sampled = graft.ops.Splits.stratifiedSample(docs2, "lang",
      Map("en" -> 1.0, "de" -> 0.0))
    assert(sampled.filter(col("lang") === "de").count() === 0L)
  }

  test("multimodal: pack → extract preserves ids, features normalized") {
    val assets = Multimodal.packAsAssets(docs)
    assert(assets.columns.toSeq === Seq("asset_id", "payload", "mime_type",
      "width", "height", "n_bytes"))
    val feats = Multimodal.extractFeatures(spark, assets, dim = 16).collect()
    assert(feats.map(_.asset_id).sorted === Array(0L, 1L, 2L, 3L, 4L))
    feats.foreach { f =>
      assert(f.features.length === 16)
      assert(math.abs(f.features.sum - 1.0) < 1e-9, "histogram must be L1-normalized")
    }
    // identical payloads → identical features (deterministic stub)
    val byId = feats.map(f => f.asset_id -> f.features.toSeq).toMap
    assert(byId(0L) === byId(2L))
  }

  test("multimodal: frame sampling emits n rows per asset, deterministic") {
    val assets = Multimodal.packAsAssets(docs)
    val frames = Multimodal.sampleFrames(spark, assets, n = 4).collect()
    assert(frames.length === 5 * 4)
    val sig0 = frames.filter(_.asset_id == 0L).map(_.frame_signature).toSeq
    val sig2 = frames.filter(_.asset_id == 2L).map(_.frame_signature).toSeq
    assert(sig0 === sig2)
  }

  test("multimodal: resize stub caps payload and metadata") {
    val resized = Multimodal.resizeStub(Multimodal.packAsAssets(docs), maxBytes = 10)
    val r = resized.collect()
    r.foreach { row =>
      assert(row.getAs[Array[Byte]]("payload").length <= 10)
      assert(row.getAs[Long]("n_bytes") <= 10L)
    }
  }

  test("ivf knn matches brute force when clusters are well separated") {
    val emb = (0 until 60).map { i =>
      val base = i % 3 match {
        case 0 => Array(10f, 0f, 0f, 0f)
        case 1 => Array(0f, 10f, 0f, 0f)
        case _ => Array(0f, 0f, 10f, 0f)
      }
      val jit = base.zipWithIndex.map { case (v, d) => v + 0.05f * ((i * 13 + d * 7) % 9) }
      (i.toLong, jit.toSeq)
    }.toDF("vec_id", "embedding")
    val query = Seq(10.0, 0.1, 0.0, 0.0)
    val (indexed, model) = graft.ops.Similarity.fitIvf(emb, nLists = 6)
    val ivf = graft.ops.Similarity.ivfKnn(indexed, model, query, k = 5, nProbe = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val brute = graft.ops.Similarity.bruteForceKnn(emb, query, 5)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(ivf === brute, "probing the nearest lists must recover the exact top-k")
  }

  test("exact ivf knn equals brute force on ADVERSARIAL (uniform) data") {
    // pseudo-random vectors with no cluster structure: fixed-nProbe
    // probing misses neighbors here; the adaptive triangle-bound
    // expansion must still recover the exact brute-force top-k
    val emb = (0 until 80).map { i =>
      (i.toLong, Seq.tabulate(6)(d => (((i * 37 + d * 101) % 47) - 23).toFloat))
    }.toDF("vec_id", "embedding")
    val query = Seq(3.0, -11.0, 7.0, 0.5, -2.0, 9.0)
    val (indexed, model) = graft.ops.Similarity.fitIvf(emb, nLists = 8)
    indexed.cache()
    try {
      val brute = graft.ops.Similarity.bruteForceKnn(emb, query, 10)
        .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"))).toSeq.sorted
      for (nProbe0 <- Seq(1, 2, 8)) {
        val exact = graft.ops.Similarity.exactIvfKnn(indexed, model, query,
            k = 10, nProbe0 = nProbe0)
          .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"))).toSeq.sorted
        assert(exact === brute, s"nProbe0=$nProbe0 must still be exact")
      }
      // k larger than the corpus: every row comes back, same order
      val bruteAll = graft.ops.Similarity.bruteForceKnn(emb, query, 200)
        .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"))).toSeq.sorted
      val exactAll = graft.ops.Similarity.exactIvfKnn(indexed, model, query,
          k = 200, nProbe0 = 2)
        .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"))).toSeq.sorted
      assert(exactAll === bruteAll)
    } finally indexed.unpersist()
  }

  test("exact ivf knn matches brute force's behavior on a zero-norm vector") {
    // cosine is undefined for a zero vector: under ANSI, brute force
    // raises DIVIDE_BY_ZERO. exactIvfKnn must be CONSISTENT — the
    // zero vector's list gets radius +inf (never silently pruned), so
    // the final scoring pass reaches the identical loud error instead
    // of quietly returning a different top-k. (With ANSI off the same
    // guard makes both paths rank the NaN cosine first.)
    val emb = ((0 until 40).map { i =>
      (i.toLong, Seq.tabulate(4)(d => (((i * 19 + d * 7) % 13) - 6).toFloat))
    } :+ (99L, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val query = Seq(5.0, -2.0, 3.0, 1.0)
    val (indexed, model) = graft.ops.Similarity.fitIvf(emb, nLists = 8)
    val bruteErr = intercept[Exception](
      graft.ops.Similarity.bruteForceKnn(emb, query, 8).collect())
    assert(bruteErr.getMessage.contains("DIVIDE_BY_ZERO"))
    val exactErr = intercept[Exception](
      graft.ops.Similarity.exactIvfKnn(indexed, model, query, k = 8, nProbe0 = 1))
    assert(exactErr.getMessage.contains("DIVIDE_BY_ZERO"),
      s"exactIvfKnn must surface the same undefined-cosine error, got: $exactErr")
  }

  test("zorder: interleave bit positions and two-dimensional locality") {
    import graft.ops.ZOrderExpr
    // bit-position ground truth
    assert(ZOrderExpr.interleave(0L, 0L) === 0L)
    assert(ZOrderExpr.interleave(1L, 0L) === 1L)
    assert(ZOrderExpr.interleave(0L, 1L) === 2L)
    assert(ZOrderExpr.interleave(3L, 3L) === 15L)
    assert(ZOrderExpr.interleave(0xFFFFFFFFL, 0L) === 0x5555555555555555L)
    assert(ZOrderExpr.interleave(0L, 0xFFFFFFFFL) === java.lang.Long.parseUnsignedLong("aaaaaaaaaaaaaaaa", 16))
    // naive per-bit reference over a value sweep
    def naive(a: Long, b: Long): Long =
      (0 until 32).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)) }
    val rnd = new scala.util.Random(7L)
    (0 until 200).foreach { _ =>
      val a = rnd.nextLong() & 0xFFFFFFFFL
      val b = rnd.nextLong() & 0xFFFFFFFFL
      assert(ZOrderExpr.interleave(a, b) === naive(a, b))
    }
    // locality: chunking a 32×32 grid sorted by z keeps BOTH
    // coordinates tight per chunk; an x-major sort leaves y wild
    val grid = (for { x <- 0 until 32; y <- 0 until 32 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
      .select(col("x"), col("y"), ZOrderExpr.zorder(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def spreadOfChunks(sorted: Seq[(Long, Long)]): Long =
      sorted.grouped(64).map { c =>
        (c.map(_._2).max - c.map(_._2).min) + (c.map(_._1).max - c.map(_._1).min)
      }.sum
    val byZ = spreadOfChunks(grid.sortBy(_._3).map(t => (t._1, t._2)).toSeq)
    val byX = spreadOfChunks(grid.sortBy(t => (t._1, t._2)).map(t => (t._1, t._2)).toSeq)
    assert(byZ * 2 < byX,
      s"z-order chunks must be at least 2x tighter: z=$byZ vs x-major=$byX")
  }

  test("int8 quantization: codes bounded, reconstruction within scale/2, zero-safe") {
    val emb = Seq(
      (1L, Seq(1.5f, -3.0f, 0.25f, 2.9f)),
      (2L, Seq(-127.0f, 127.0f, 0.0f, 63.5f)),
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f))) // zero vector must not error
      .toDF("vec_id", "embedding")
    val rows = emb.select(col("vec_id"),
        graft.ops.Similarity.quantizeInt8(col("embedding")).as("z"),
        col("embedding"))
      .collect()
    rows.foreach { r =>
      val scale = r.getStruct(1).getDouble(0)
      val q = r.getStruct(1).getSeq[Int](1)
      val x = r.getSeq[Float](2).map(_.toDouble)
      assert(q.forall(c => c >= -127 && c <= 127), s"codes out of range: $q")
      if (scale == 0.0) assert(q.forall(_ == 0), "zero vector → zero codes")
      else x.zip(q).foreach { case (xi, qi) =>
        assert(math.abs(xi - qi * scale) <= scale / 2 + 1e-12,
          s"reconstruction error beyond scale/2 at $xi vs ${qi * scale}")
      }
    }
    // lossless case: integer entries with max |x| = 127 → scale = 1,
    // codes = values, quantized dot == exact dot. The ranking must
    // then EQUAL the exact dot ranking (dot, not cosine — quantized
    // scoring preserves the dot metric; cosine re-rank is the
    // documented full-precision second stage)
    def vec(i: Int): Seq[Double] = {
      val raw = Seq.tabulate(8)(d => (((i * 31 + d * 17) % 23) - 11).toDouble)
      raw.updated(i % 8, 127.0)
    }
    val corpus = (0 until 50).map(i => (i.toLong, vec(i).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val z = corpus.select(col("vec_id"),
      graft.ops.Similarity.quantizeInt8(col("embedding")).as("z"))
      .select(col("vec_id"), col("z.scale").as("sc"), col("z.q").as("qv"))
    val probe = z.filter(col("vec_id") === 0)
      .select(col("sc").as("qs"), col("qv").as("qq"))
    val topQ = z.crossJoin(broadcast(probe))
      .select(col("vec_id"),
        graft.ops.Similarity.quantizedDot(col("qv"), col("sc"), col("qq"), col("qs")).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    val q0 = vec(0)
    val topX = (0 until 50)
      .map(i => (i.toLong, vec(i).zip(q0).map { case (a, b) => a * b }.sum))
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(topQ === topX,
      s"lossless quantized ranking $topQ must equal the exact dot ranking $topX")
  }

  test("broadcast-join list assignment equals the literal-argmin path") {
    // the large-nLists path (centroid matrix too big for codegen
    // literals) must assign every vector to the same list, including
    // on distance ties, as the embedded-literal argmin
    val emb = (0 until 120).map { i =>
      (i.toLong, Seq.tabulate(5)(d => (((i * 29 + d * 13) % 17) - 8).toDouble))
    }.toDF("vec_id", "v")
    val cents = (0 until 9).map(c =>
      Seq.tabulate(5)(d => (((c * 7 + d * 3) % 11) - 5).toDouble)).toIndexedSeq
    val lit = graft.ops.Similarity.assignLists(emb, "v", cents)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("list")).toMap
    val bcast = graft.ops.Similarity.assignLists(emb, "v", cents, maxLiteralCells = 0)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("list")).toMap
    assert(bcast === lit)
    // tie fixture: two identical centroids — both paths must pick the
    // LOWER list index
    val tied = cents.take(1) ++ cents.take(1) ++ cents.drop(1)
    val litT = graft.ops.Similarity.assignLists(emb, "v", tied.toIndexedSeq)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("list")).toMap
    val bcastT = graft.ops.Similarity.assignLists(emb, "v", tied.toIndexedSeq,
        maxLiteralCells = 0)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("list")).toMap
    assert(bcastT === litT)
    assert(!litT.values.exists(_ == 1), "ties resolve to the first minimum")
  }

  test("native rp near-dup pairs find duplicated embeddings at cosine 1") {
    val emb = ((0 until 20).map { i =>
      (i.toLong, Seq.tabulate(8)(d => ((i * 31 + d * 17) % 23 - 11).toFloat))
    } :+ (100L, Seq.tabulate(8)(d => ((3 * 31 + d * 17) % 23 - 11).toFloat)))
      .toDF("vec_id", "embedding") // vec 100 duplicates vec 3
    val pairs = graft.ops.Similarity.rpNearDupPairs(emb, minCosine = 0.99)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
        r.getAs[Double]("cosine")).toMap
    assert(pairs.contains((3L, 100L)), s"expected dup pair, got ${pairs.keys.mkString(",")}")
    assert(math.abs(pairs((3L, 100L)) - 1.0) < 1e-12)
  }

  test("LSH metamorphic properties: self at distance 0, duplicate row pairs at 0") {
    import org.apache.spark.ml.linalg.Vectors
    val vecs = (0 until 30).map { i =>
      (i.toLong, Vectors.dense(Array.tabulate(6)(d => ((i * 7 + d * 3) % 11).toDouble)))
    } :+ (99L, Vectors.dense(Array.tabulate(6)(d => ((5 * 7 + d * 3) % 11).toDouble)))
    val df = vecs.toDF("id", "norm_features")
    val model = graft.ml.Recommender.fit(df,
      graft.ml.Recommender.Config(bucketLength = 2.0, numHashTables = 4))
    // duplicate content (id 5 vs 99) must surface at distance 0
    val nbrs = graft.ml.Recommender.neighbors(model, df, "id", 5L, 3).collect()
    val dup = nbrs.find(_.getAs[Long]("id") == 99L)
    assert(dup.isDefined && dup.get.getAs[Double]("distance") === 0.0)
    // determinism: same seed → same neighbor list
    val model2 = graft.ml.Recommender.fit(df,
      graft.ml.Recommender.Config(bucketLength = 2.0, numHashTables = 4))
    val again = graft.ml.Recommender.neighbors(model2, df, "id", 5L, 3)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(again === nbrs.map(_.getAs[Long]("id")).toSeq)
  }

  test("lsh ann agrees with brute force on an easy top-1") {
    val emb = (0 until 50).map { i =>
      val base = if (i < 25) Array(1.0f, 0f, 0f, 0f) else Array(0f, 1.0f, 0f, 0f)
      val jit = base.zipWithIndex.map { case (v, d) => v + 0.01f * ((i * 7 + d) % 5) }
      (i.toLong, jit.toSeq)
    }.toDF("vec_id", "embedding")
    val (withVec, model) = Similarity.fitLsh(emb, numHashTables = 6, bucketLength = 1.0)
    val knn = Similarity.lshKnn(withVec, model, 0L, 5).collect()
    assert(knn.nonEmpty)
    assert(knn.forall(_.getAs[Long]("vec_id") < 25L),
      "neighbors of a cluster-0 vector must come from cluster 0")
  }
  test("exact-IVF nearest-same-label equals the brute-force block join") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Dedup.nearestSameLabel(emb)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nn_id"))).toMap
    val ivf = Similarity.nearestSameLabelIvf(emb, nLists = 8)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nn_id"))).toMap
    assert(ivf.size === brute.size)
    assert(ivf === brute)
  }

  test("hashBucket never overflows and matches exact modular arithmetic") {
    val k = BigInt(2654435761L)
    val ids = Seq(0L, 1L, 7L, 999983L, 2654435761L, 3500000000L,
      4294967295L, 4294967296L, 87178291199L, Long.MaxValue)
    val got = ids.toDF("id")
      .select(col("id"), graft.ops.Splits.hashBucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      val expected = (((BigInt(id) & 0xFFFFFFFFL) * k) % BigInt(4294967296L)) % 100
      assert(got(id) === expected.toLong, s"id=$id")
    }
  }
  test("decontaminate removes docs overlapping the reference set") {
    val ref = docs.filter(col("doc_id") === 0L)
    val corpus = docs.filter(col("doc_id") =!= 0L)
    val scores = Dedup.contaminationScores(corpus, ref, shingleSize = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_grams")).toMap
    // doc 2 is an exact copy of ref doc 0: every bigram shared
    assert(scores(2L) >= 7L)
    // doc 1 differs only in the last word: all but the final bigrams shared
    assert(scores(1L) >= 6L)
    assert(!scores.contains(4L), "German doc shares no bigrams")
    val kept = Dedup.decontaminate(corpus, ref, shingleSize = 2, minOverlap = 5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(3L, 4L))
  }

  test("repetitionStats computes exact bigram repetition fractions") {
    val df = Seq(
      (0L, "a b a b a b"),     // bigrams: ab ba ab ba ab -> total 5, distinct 2, max 3
      (1L, "w x y z"),          // total 3, all distinct
      (2L, "solo")              // < 2 tokens: filtered out
    ).toDF("doc_id", "text")
    val got = graft.ops.TextStats.repetitionStats(df)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Double]("top_gram_frac"), r.getAs[Double]("dup_gram_frac")))).toMap
    assert(got(0L) === ((5L, 3.0 / 5.0, 3.0 / 5.0)))
    assert(got(1L) === ((3L, 1.0 / 3.0, 0.0)))
    assert(!got.contains(2L))
  }

  test("bpeish token count splits contractions, digits and punctuation runs") {
    val df = Seq((0L, "don't stop 123 x-y!"), (1L, "plain words here")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextStats.bpeishTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // don | 't | stop | 123 | x | - | y | !  -> 8
    assert(got(0L) === 8L)
    assert(got(1L) === 3L)
  }

  test("mixtureSample keeps deterministic per-source fractions") {
    val rows = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
    val df = rows.toDF("doc_id", "lang")
    val kept = graft.ops.Splits.mixtureSample(df,
        Map("a" -> 1.0, "b" -> 0.25))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang")))
    val (as, bs) = kept.partition(_._2 == "a")
    assert(as.size === 1000, "weight 1.0 keeps every row")
    // ~25% of 1000, hash-cell variance bounded
    assert(bs.size > 180 && bs.size < 320, s"got ${bs.size}")
    // determinism: same rows on re-evaluation over a different layout
    val kept2 = graft.ops.Splits.mixtureSample(df.repartition(7), Map("a" -> 1.0, "b" -> 0.25))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang")))
    assert(kept.toSet === kept2.toSet)
    // unknown source dropped entirely
    assert(graft.ops.Splits.mixtureSample(df, Map("a" -> 1.0))
      .filter(col("lang") === "b").count() === 0L)
  }

  test("sampleKPerGroup: k smallest hashes per group, stable under layout and append") {
    val rows = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
    val df = rows.toDF("doc_id", "lang")
    val s = graft.ops.Splits.sampleKPerGroup(df, "lang", "doc_id", 5).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Int]("rk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("hv")))
    assert(s.length === 10, "5 per group × 2 groups")
    s.groupBy(_._1).foreach { case (g, rs) =>
      assert(rs.map(_._2).sorted === (1 to 5).toArray, s"group $g ranks")
      // ranks follow ascending hash; hv is the exact Knuth hash of the id
      assert(rs.sortBy(_._2).map(_._4).toSeq === rs.map(_._4).sorted.toSeq)
      rs.foreach { case (_, _, id, hv) =>
        assert(hv === ((id & 0xFFFFFFFFL) * 2654435761L) % 4294967296L)
      }
    }
    // pure function of the id set: any partitioning draws the same sample
    val s2 = graft.ops.Splits.sampleKPerGroup(df.repartition(7), "lang", "doc_id", 5)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Int]("rk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("hv")))
    assert(s.toSet === s2.toSet)
    // append semantics: adding ids only displaces entries whose hash
    // undercuts a kept one — the surviving overlap keeps relative order
    val s3 = graft.ops.Splits.sampleKPerGroup(
      df.union(Seq((2000L, "a"), (2001L, "b")).toDF("doc_id", "lang")),
      "lang", "doc_id", 5).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"))).toSet
    val overlap = s.map(r => (r._1, r._3)).toSet.intersect(s3)
    assert(overlap.size >= 8, s"append displaced more than the hash contract allows: $overlap")
  }

  test("tokenBudgetSample admits exactly the hash-order prefix under the budget") {
    val rows = (0L until 400L).map { i =>
      (i, if (i % 2 == 0) "a" else "b",
        Seq.fill((i % 7 + 1).toInt)("t").mkString(" "))  // 1..7 tokens
    }
    val df = rows.toDF("doc_id", "lang", "text")
    // tiny bucketSpan → many hv buckets → exercises the bucketed
    // two-phase path and the past-budget bucket pruning
    val got = graft.ops.Splits.tokenBudgetSample(df, budget = 100L,
        bucketSpan = 1L << 24).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("hv"), r.getAs[Long]("n_tok"), r.getAs[Long]("start")))
    // reference: naive single-pass cumsum in hash order per group
    def knuth(id: Long) = ((id & 0xFFFFFFFFL) * 2654435761L) % 4294967296L
    val expected = rows.map { case (id, g, text) =>
      (g, id, knuth(id), text.split(" ").length.toLong)
    }.groupBy(_._1).flatMap { case (g, rs) =>
      var acc = 0L
      rs.sortBy(r => (r._3, r._2)).flatMap { case (gg, id, hv, n) =>
        val keep = acc < 100L
        val row = (gg, id, hv, n, acc)
        acc += n
        if (keep) Some(row) else None
      }
    }.toSet
    assert(got.toSet === expected)
    // budget property: tokens BEFORE every admitted doc < budget, and
    // the admitted set is a prefix (every start value is tight cumsum)
    got.groupBy(_._1).foreach { case (g, rs) =>
      val sorted = rs.sortBy(r => (r._3, r._2))
      assert(sorted.forall(_._5 < 100L))
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a._5 + a._4 === b._5, s"gap in $g cumsum")
        case _ =>
      }
    }
    // pure function of the id set: layout-independent
    val got2 = graft.ops.Splits.tokenBudgetSample(df.repartition(7), budget = 100L,
      bucketSpan = 1L << 24).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("hv"), r.getAs[Long]("n_tok"), r.getAs[Long]("start")))
    assert(got.toSet === got2.toSet)
  }

  test("exactGroupRank equals the window spelling on ties, boundaries and cell edges") {
    val rnd = new scala.util.Random(7)
    // values engineered to stress the radix decomposition: exact 0.0
    // and 1.0, duplicated values (id tie-breaks), values straddling
    // coarse-cell boundaries (k/16 with cells=16), plus random fill
    val rows =
      Seq((0L, "a", 0.0), (1L, "a", 1.0), (2L, "a", 0.5), (3L, "a", 0.5),
        (4L, "a", 0.5 + 1e-12), (5L, "a", 3.0 / 16.0), (6L, "a", 3.0 / 16.0 - 1e-15),
        (7L, "b", 1.0), (8L, "b", 1.0), (9L, "b", 0.0625)) ++
        (100L until 400L).map(i => (i, if (i % 3 == 0) "a" else "b", rnd.nextDouble()))
    val df = rows.toDF("doc_id", "lang", "v")
    val got = graft.ops.Ranks.exactGroupRank(df, "lang", "doc_id", col("v"), cells = 16)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")) -> r.getAs[Long]("rnk")).toMap
    // naive reference: in-memory sort per group
    val expected = rows.groupBy(_._2).flatMap { case (g, rs) =>
      rs.sortBy { case (id, _, v) => (-v, id) }.zipWithIndex
        .map { case ((id, _, _), i) => (g, id) -> (i + 1L) }
    }
    assert(got === expected)
    // partitioning independence
    val got2 = graft.ops.Ranks.exactGroupRank(df.repartition(7), "lang", "doc_id",
      col("v"), cells = 16)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")) -> r.getAs[Long]("rnk")).toMap
    assert(got2 === expected)
    // quantile buckets: 0-based, ~equal-sized, monotone in rank
    val bucketed = graft.ops.Ranks.withQuantileBucket(
      graft.ops.Ranks.exactGroupRank(df, "lang", "doc_id", col("v")), "lang", 4)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("rnk"), r.getAs[Long]("bucket")))
    bucketed.groupBy(_._1).foreach { case (g, rs) =>
      val n = rs.length
      rs.foreach { case (_, rnk, b) => assert(b === (4 * (rnk - 1)) / n, s"group $g rank $rnk") }
    }
  }

  test("dot and sqdist return null on length-mismatched vectors") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)),
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    val rows = df.select(Similarity.dot(col("a"), col("b")).as("d")).collect()
    assert(rows(0).isNullAt(0), "mismatched lengths must surface as null")
    assert(rows(1).getDouble(0) === 11.0)
  }

  test("dot and sqdist null-propagate a null ELEMENT, matching zip_with") {
    // parquet-read arrays default to containsNull=true: a corrupt vector
    // with a null element must poison the sum, not contribute 0.0
    val df = spark.sql(
      """SELECT array(1.0D, CAST(NULL AS DOUBLE), 3.0D) AS a,
        |       array(4.0D, 5.0D, 6.0D) AS b,
        |       array(1.0D, 2.0D) AS c, array(3.0D, 4.0D) AS d""".stripMargin)
    val got = df.select(
      Similarity.dot(col("a"), col("b")).as("nd"),
      Similarity.sqDist(col("a"), col("b")).as("ns"),
      Similarity.dot(col("c"), col("d")).as("ok"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)").as("hof"))
      .collect()(0)
    assert(got.isNullAt(0), "null element must null the dot product")
    assert(got.isNullAt(1), "null element must null the squared distance")
    assert(got.getDouble(2) === 11.0)
    assert(got.isNullAt(3), "the HOF form we claim bit-compat with also nulls")
  }

  test("duplicatedSpanFraction: planted repeats yield exact coverage, spans merge when adjacent") {
    val g = (1 to 13).map(i => s"g$i").mkString(" ")
    val docs = Seq(
      // the 13-gram sits at pos 2 of 16 tokens → covered [2,14] = 13
      (0L, s"x1 x2 $g y1"),
      // same gram at pos 0 of 15 tokens → covered [0,12] = 13
      (1L, s"$g z1 z2"),
      (2L, "too short to shingle"),
      // gram twice back-to-back: islands [0,12] and [13,25] are
      // adjacent → ONE merged span covering all 26 tokens
      (3L, s"$g $g"),
      // gram twice with a separator: [0,12] and [14,26] → two spans
      (4L, s"$g sep $g")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanFraction(docs, shingleSize = 13, minOccurrences = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_tokens"),
          r.getAs[Long]("n_dup_spans"), r.getAs[Double]("dup_fraction")))).toMap
    assert(got(0L) === ((16L, 13L, 1L, 13.0 / 16.0)))
    assert(got(1L) === ((15L, 13L, 1L, 13.0 / 15.0)))
    assert(got(2L) === ((4L, 0L, 0L, 0.0)))
    assert(got(3L) === ((26L, 26L, 1L, 1.0)))
    assert(got(4L) === ((27L, 26L, 2L, 26.0 / 27.0)))
  }

  test("removeFrequentChunks: boilerplate chunks cut, unique prose reassembled in order") {
    // 4-token chunks for a compact fixture; "hh1..hh4" is the header
    // chunk shared by three docs (df=3 > maxDocFreq=2 → boilerplate),
    // each doc's tail chunks are unique
    val header = "hh1 hh2 hh3 hh4"
    val docs = Seq(
      (0L, s"$header a1 a2 a3 a4 a5"),          // header + 2 unique chunks
      (1L, s"$header b1 b2 b3 b4"),             // header + 1 unique chunk
      (2L, s"$header c1 c2"),                   // header + short tail
      (3L, "d1 d2 d3 d4 d5 d6")                 // untouched
    ).toDF("doc_id", "text")
    val got = Chunking.removeFrequentChunks(docs, chunkTokens = 4, maxDocFreq = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text")))).toMap
    assert(got(0L) === ((3L, 1L, "a1 a2 a3 a4 a5")))
    assert(got(1L) === ((2L, 1L, "b1 b2 b3 b4")))
    assert(got(2L) === ((2L, 1L, "c1 c2")))
    assert(got(3L) === ((2L, 0L, "d1 d2 d3 d4 d5 d6")))
    // everything-boilerplate doc → empty clean_text, all chunks removed
    val all = Seq((0L, header), (1L, header), (2L, header)).toDF("doc_id", "text")
    val wiped = Chunking.removeFrequentChunks(all, chunkTokens = 4, maxDocFreq = 2)
      .collect().map(r => (r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))
    assert(wiped.forall(_ == ((1L, ""))))
  }

  test("vocabTopN and oovStats: frequency vocab with deterministic ties, exact per-doc OOV") {
    val docs = Seq(
      (0L, "aa aa aa bb bb cc"),
      (1L, "aa bb cc dd ee"),
      (2L, "zz zz zz zz")
    ).toDF("doc_id", "text")
    // counts: aa=4, zz=4, bb=3, cc=2, dd=1, ee=1 → top-3 with ties
    // (count desc, token asc): aa, zz, bb
    val vocab = TextStats.vocabTopN(docs, n = 3)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("token"),
        r.getAs[Long]("cnt"))).toSeq
    assert(vocab === Seq((1, "aa", 4L), (2, "zz", 4L), (3, "bb", 3L)))
    val oov = TextStats.oovStats(docs, n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("oov_frac")))).toMap
    assert(oov(0L) === ((6L, 1L, 1.0 / 6.0)))  // cc is OOV
    assert(oov(1L) === ((5L, 3L, 3.0 / 5.0)))  // cc dd ee
    assert(oov(2L) === ((4L, 0L, 0.0)))
  }

  test("curation policy (q101): each rule fires on its planted doc, precedence respected") {
    val spark2 = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-q101").toString
    // stopword every other token, all unique bigrams → every gate passes
    val good = (1 to 15).map(i =>
      s"${Seq("the", "a", "and", "of", "to")(i % 5)} w$i").mkString(" ")
    val rep13 = (1 to 13).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (0L, good, "en", "s0", 1L),                                    // kept (30 tokens)
      (1L, "too short here", "en", "s0", 1L),                        // too_short
      (2L, ("zzz " * 30).trim, "en", "s0", 1L),                      // no stopwords → low_quality
      // 30 tokens, all the same bigram → repetitive (dup_gram_frac ~1);
      // stopword-rich so quality stays above the gate — also proves
      // precedence: its dup_fraction is ~1 but 'repetitive' fires first
      (3L, ("the a " * 15).trim, "en", "s0", 1L),
      // a shared 13-token prefix + near-identical stopword-rich tails:
      // shared 13-grams cover 24 of 26 tokens → 'duplicated'
      (4L, s"$rep13 over the a and of to in is it that for fox dog", "en", "s0", 1L),
      (5L, s"$rep13 over the a and of to in is it that for cat cow", "en", "s0", 1L),
      // passes every text gate (same shape as doc 0 but disjoint
      // content words, so no 13-gram is shared), yet its embedding
      // sits on bench vector 0 → the round-13 'contaminated' rule
      (6L, (1 to 15).map(i =>
        s"${Seq("the", "a", "and", "of", "to")(i % 5)} x$i").mkString(" "),
        "en", "s0", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // 1:1-aligned embeddings: vec 0 is the benchmark (id % 25 = 0);
    // vec 6 nearly parallel to it (cos ≈ 0.99 ≥ 0.35), the rest
    // orthogonal to the benchmark (cos 0 < 0.35)
    val ortho = Seq(0f, 1f, 0f, 0f)
    (0L to 6L).map {
      case 0L => (0L, Seq(1f, 0f, 0f, 0f))
      case 6L => (6L, Seq(0.95f, 0.1f, 0f, 0f))
      case i  => (i, ortho)
    }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.Round11.defs.find(_.name == "q101_curation_policy").get
      .fn(spark2, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[String]("reason")), r.getAs[Boolean]("kept")))).toMap
    assert(out(0L) === ((None, true)))
    assert(out(1L) === ((Some("too_short"), false)))
    assert(out(2L) === ((Some("low_quality"), false)))
    assert(out(3L) === ((Some("repetitive"), false)))
    assert(out(4L)._1.contains("duplicated"))
    assert(out(5L)._1.contains("duplicated"))
    assert(out(6L) === ((Some("contaminated"), false)))
  }

  test("crossSourceDupMatrix: within-feed and cross-feed dup pairs land on the right cells") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight", "feedA"),
      (1L, "the quick brown fox jumps over the lazy dog today", "feedB"),   // near-dup of 0, cross-feed
      (2L, "the quick brown fox jumps over the lazy dog tonight", "feedA"), // exact dup of 0, within-feed
      (3L, "completely unrelated text about spark catalyst engines here", "feedB")
    ).toDF("doc_id", "text", "source")
    val m = Dedup.crossSourceDupMatrix(docs, maxJaccardDist = 0.5)
      .collect().map(r => (r.getAs[String]("src_lo"), r.getAs[String]("src_hi")) ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Double]("closest_dist")))).toMap
    // (0,2) within feedA at distance 0; (0,1) and (1,2) cross-feed
    assert(m(("feedA", "feedA"))._1 === 1L)
    assert(m(("feedA", "feedA"))._2 === 0.0)
    assert(m(("feedA", "feedB"))._1 === 2L)
    assert(m(("feedA", "feedB"))._2 > 0.0)
    assert(!m.contains(("feedB", "feedB")), "doc 3 shares nothing with doc 1")
  }

  test("temperatureMixtureSample: membership equals the replayed formula, small sources upsampled") {
    // big:400 docs, mid:90, tiny:10 — α=0.5 flattens, so tiny keeps a
    // LARGER fraction than big under a 250-doc budget
    val docs = (0 until 500).map { i =>
      val src = if (i < 400) "big" else if (i < 490) "mid" else "tiny"
      (i.toLong, src)
    }.toDF("doc_id", "source")
    val kept = graft.ops.Splits.temperatureMixtureSample(docs, budgetDocs = 250)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source"))
    // replay the contract from scratch: √n weights folded in
    // source-name order, threshold = floor(frac·2³²), Knuth hash cell
    val counts = Map("big" -> 400L, "mid" -> 90L, "tiny" -> 10L)
    val sumW = counts.toSeq.sortBy(_._1)
      .foldLeft(0.0) { case (a, (_, n)) => a + math.sqrt(n.toDouble) }
    def th(n: Long): Long = math.floor(math.min(1.0,
      ((250.0 * math.sqrt(n.toDouble)) / sumW) / n.toDouble) * 4294967296.0).toLong
    def hv(id: Long): Long = {
      val b = id & 0xFFFFFFFFL
      ((b & 0xFFFFL) * 2654435761L + (((b >>> 16) * 2654435761L % 65536L) << 16)) % 4294967296L
    }
    val expected = (0 until 500).map { i =>
      val src = if (i < 400) "big" else if (i < 490) "mid" else "tiny"
      (i.toLong, src)
    }.filter { case (id, src) => hv(id) < th(counts(src)) }
    assert(kept.sortBy(_._1).toSeq === expected.sortBy(_._1))
    // α=0.5 property: tiny's keep-RATE exceeds big's
    val rate = kept.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    assert(rate("tiny") / 10.0 > rate("big") / 400.0,
      s"temperature flattening should upsample tiny: $rate")
  }

  test("exciseContaminatedSpans: leaked tokens cut exactly, clean docs untouched") {
    val leak = (1 to 13).map(i => s"b$i").mkString(" ")
    val ref = Seq((100L, s"$leak b14")).toDF("doc_id", "text")
    val corpus = Seq(
      // leak in the middle: prefix and suffix survive. The ref doc has
      // 14 tokens → TWO overlapping 13-grams, and this doc contains
      // both → 14 covered positions [2,15]
      (0L, s"p1 p2 $leak b14 s1 s2"),
      // leak at the start, only the 13-gram itself
      (1L, s"$leak t1 t2"),
      (2L, "totally clean document with none of those words at all")
    ).toDF("doc_id", "text")
    val got = Dedup.exciseContaminatedSpans(corpus, ref, shingleSize = 13)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("removed_tokens"),
          r.getAs[String]("clean_text")))).toMap
    assert(got(0L) === ((18L, 14L, "p1 p2 s1 s2")))
    assert(got(1L) === ((15L, 13L, "t1 t2")))
    assert(got(2L) === ((10L, 0L,
      "totally clean document with none of those words at all")))
  }

  test("saveIvf/loadIvf: stored index round-trips the model and knn exactly, probes prune partitions") {
    // four well-separated direction bundles so the fit spreads lists
    val emb = (0 until 40).map { i =>
      val axis = i % 4
      val base = Array(0.01f, 0.01f, 0.01f, 0.01f)
      base(axis) = 1.0f + (i / 4) * 0.01f
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
    val (indexed, model) = Similarity.fitIvf(emb, nLists = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    Similarity.saveIvf(indexed, model, dir)
    val (stored, storedModel) = Similarity.loadIvf(spark, dir)
    assert(storedModel.centroids === model.centroids)
    assert(storedModel.radii === model.radii)
    val q = Seq(1.0, 0.0, 0.0, 0.0)
    def ranks(df: org.apache.spark.sql.DataFrame, m: Similarity.IvfModel) =
      Similarity.exactIvfKnn(df, m, q, k = 5, nProbe0 = 2)
        .select("rank", "vec_id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(ranks(stored, storedModel) === ranks(indexed, model),
      "the storage hop must be semantically invisible")
    // the probe filter must reach the scan as a PARTITION filter on
    // the list directories — reading a stored 1000-list corpus with 4
    // probes must touch 4 directories, not the corpus
    val plan = stored.filter(col("ivf_list").isin(0, 1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") &&
      plan.replaceAll("#\\d+", "").contains("ivf_list IN (0,1)"),
      s"probe filter did not become a partition filter:\n$plan")
  }

  test("semanticDeduplicate: verdicts equal brute-force within-cluster recomputation") {
    // two tight bundles far apart plus a loner; ids chosen arbitrarily —
    // the property check below re-derives every verdict from scratch,
    // so it holds whatever cells the Knuth seed draw produces
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.14f, 0.0f, 0.0f)),   // near-dup of 0
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),     // exact dup of 0
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.14f, 0.99f, 0.0f)),   // near-dup of 3
      (5L, Seq(0.0f, 0.5f, 0.0f, 0.87f))     // loner
    ).toDF("vec_id", "embedding")
    val tau = 0.95
    val out = Similarity.semanticDeduplicate(emb, nClusters = 2, minCosine = tau)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("cluster"), r.getAs[Boolean]("kept"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))).toMap
    assert(out.size === 6, "one verdict row per input vector")
    val raw = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def n(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
      a.zip(b).map { case (x, y) => x / n(a) * (y / n(b)) }.sum
    }
    out.foreach { case (id, (cl, kept, dupOf)) =>
      val lowerSameCell = out.collect {
        case (o, (c, _, _)) if c == cl && o < id && cos(raw(o), raw(id)) >= tau - 1e-9 => o
      }
      val expected = if (lowerSameCell.isEmpty) None else Some(lowerSameCell.min)
      assert(dupOf === expected, s"vec $id: dup_of $dupOf vs brute $expected")
      assert(kept === expected.isEmpty, s"vec $id: kept flag inconsistent")
    }
    // the two exact dups of vector 0 must collapse whatever the cells
    // did (identical vectors always share a cell)
    assert(out(2L)._3 === Some(0L))
  }

}
