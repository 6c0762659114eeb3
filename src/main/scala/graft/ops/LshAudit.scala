package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.engine.Columns

/** MinHash-LSH PARAMETER audit: measured recall and precision of
  * banded-signature candidate generation against EXACT n-gram Jaccard
  * ground truth, per (bands, rowsPerBand) configuration — the
  * S-curve measurement (collision probability 1−(1−s^r)^b) run on a
  * deterministic corpus sample BEFORE committing a band layout to a
  * 100 TB dedup pass. q135/q182/q185 audit the ANN/quantization
  * retrieval rungs the same way; this closes the family for the
  * near-dup rung: the production q31/q43 banding's recall is
  * probabilistic BY DESIGN, and this is the operator that measures
  * what a given (b, r) actually buys at the corpus's own similarity
  * distribution instead of reading it off the idealized curve.
  *
  * Everything is exact integer arithmetic on replayable hashes, so a
  * SQL oracle re-derives BOTH sides bit-for-bit:
  *  - gram hash: polynomial combine of [[Classifier.tokenHash]]
  *    codepoint folds mod [[Classifier.HashPrime]] (the Winnowing
  *    spelling), distinct per document;
  *  - exact side: all pairs WITHIN THE SAMPLE, jaccard_ppm =
  *    |∩|·10⁶ div |∪| over the distinct gram-hash sets — integer,
  *    no float ratio;
  *  - signatures: k = bands·rows minimums of (aᵢ·h + bᵢ) mod p over
  *    the gram set ([[MinHashSigExpr]], one pass, zero allocation)
  *    with CLOSED-FORM coefficients aᵢ = (1 + (i+1)·2654435761) mod p,
  *    bᵢ = ((i+1)·40503) mod p — no opaque seeded RNG, so the oracle
  *    regenerates them from i alone (products < 2⁶³, ANSI-safe);
  *  - band keys: polynomial fold of each band's r signature values
  *    mod p; a candidate is any sample pair sharing ≥ 1 band key.
  *
  * All configurations share ONE k-wide signature (each config reads a
  * prefix regrouping of the same minimums — standard practice, and it
  * means one signature pass serves the whole grid).
  *
  * QUERY-SAMPLED, CORPUS-COMPLETE: ground truth is the exact Jaccard
  * of every (sampled query, corpus document) pair — queries are the
  * deterministic `hashBucketN(id, sampleMod) = 0` slice, the corpus
  * side is everything, so recall is measured per query against each
  * query's REAL neighbor set (the q135 probe shape scaled to a query
  * sample). An all-pairs-within-sample design was measured and
  * rejected: near-dup pairs are rare (25 planted pairs in the 500-doc
  * sf0.01 corpus), and requiring BOTH endpoints sampled (p²) leaves
  * the truth set empty; requiring ONE endpoint (this design) keeps
  * ~2p of them. The exact side is |sample|·|corpus| — linear in the
  * corpus, the audit's documented cost — and the banded side joins
  * the sample's band keys against the full band table exactly like a
  * production candidate lookup.
  *
  * Returns one row per configuration:
  * (bands, rows_per_band, n_sample, n_true, n_cand, n_hit,
  *  recall_ppm, precision_ppm) ordered by bands DESC (loosest →
  * tightest); recall/precision are NULL when their denominator is 0.
  * Pairs count DIRECTED (query, neighbor): a planted pair with both
  * endpoints sampled contributes one row per sampled endpoint, the
  * per-query bookkeeping a recall audit wants.
  */
object LshAudit {

  private val P = Classifier.HashPrime

  /** Closed-form MinHash coefficient schedule (documented above). */
  private[ops] def coefs(k: Int): (Array[Long], Array[Long]) = {
    val a = Array.tabulate(k)(i => (1L + (i + 1) * 2654435761L) % P)
    val b = Array.tabulate(k)(i => ((i + 1) * 40503L) % P)
    require(a.forall(_ != 0L), "degenerate a_i = 0 coefficient")
    (a, b)
  }

  /** DETECTOR-AGREEMENT audit (Cohen'60 κ): do two structurally
    * different near-dup detectors — banded MinHash over gram SETS
    * (resemblance) and banded SimHash over token-frequency vectors
    * (weighted angular proximity) — actually flag the same pairs?
    * Run on the same query-sampled directed universe as
    * [[minhashParamAudit]] (queries × corpus, docs with ≥ shingleSize
    * tokens so both detectors are defined), it reports the agreement
    * matrix, observed/chance agreement and κ in exact ppm, plus the
    * positive-set Jaccard — the method-comparison table a pipeline
    * owner reads before trusting either detector's recall claims, or
    * before OR-ing them (q146's cross-signal union) at 100 TB.
    * Chance agreement pₑ uses the standard marginal product,
    * DECIMAL(38,0) cross-multiplied: at 10⁹-doc corpora N² overflows
    * anything smaller. κ is most informative under exactly this kind
    * of class imbalance (positives are ≪ 1 % of the universe):
    * raw observed agreement would read ~10⁶ ppm for ANY two
    * conservative detectors, while κ credits only the shared
    * positives beyond chance.
    *
    * Returns ONE row: (n_universe, n_minhash, n_simhash, n_both,
    * po_ppm, pe_ppm, kappa_ppm, pair_jaccard_ppm); κ and the pair
    * Jaccard are NULL when degenerate (pₑ = 1 or both sets empty). */
  def detectorAgreement(docs: DataFrame, bands: Int = 8, rowsPerBand: Int = 3,
      maxHamming: Int = 12, shingleSize: Int = 3, sampleMod: Long = 8L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (ca, cb) = coefs(bands * rowsPerBand)

    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > lit(0))
    // once-per-document token pre-hash + unrolled gram fold (round 21
    // — [[Classifier.gramHashOfHashes]])
    val grams = docs
      .select(col(idCol).as("__id"), toks.as("__t"))
      .filter(size(col("__t")) >= shingleSize)
      .select(col("__id"), Classifier.tokenHashes(col("__t")).as("__th"))
      .select(col("__id"),
        array_distinct(transform(sequence(lit(0), size(col("__th")) - shingleSize),
          i => Classifier.gramHashOfHashes(col("__th"), i, shingleSize)))
          .as("__g"))
      .cache()
    grams.count() // eager: universe count, minhash side, simhash filter
    val inUniverse = grams.select(col("__id"))
    val isQ = Splits.hashBucketN(col("__id"), sampleMod) === 0

    // ---- detector A: banded MinHash directed candidates ------------
    val sig = grams.select(col("__id"),
      Columns.ofExpr(MinHashSigExpr(Columns.exprOf(col("__g")), ca, cb, P))
        .as("__sig"))
    val bandRows = sig.select(col("__id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => aggregate(slice(col("__sig"), j * rowsPerBand + 1, lit(rowsPerBand)),
          lit(0L), (acc, s) => (acc * 10007L + s) % lit(P))))
        .as(Seq("__band", "__key")))
    val mh = bandRows.filter(isQ).alias("x")
      .join(bandRows.alias("y"),
        col("x.__band") === col("y.__band") && col("x.__key") === col("y.__key") &&
          col("x.__id") =!= col("y.__id"))
      .select(col("x.__id").as("__q"), col("y.__id").as("__c"))
      .distinct()

    // ---- detector B: banded SimHash (≤ maxHamming), directed, ------
    // restricted to the gram-able universe
    val sh0 = Dedup.simhashCandidates(docs, idCol, textCol, maxHamming)
      .select(col("doc_a"), col("doc_b"))
    val shU = sh0
      .join(inUniverse.select(col("__id").as("doc_a")), Seq("doc_a"))
      .join(inUniverse.select(col("__id").as("doc_b")), Seq("doc_b"))
    val sh = shU.select(col("doc_a").as("__q"), col("doc_b").as("__c"))
      .unionAll(shU.select(col("doc_b").as("__q"), col("doc_a").as("__c")))
      .filter(Splits.hashBucketN(col("__q"), sampleMod) === 0)

    // ---- agreement rollup ------------------------------------------
    val nQ = grams.filter(isQ).agg(count(lit(1)).as("__nq"))
    val nAll = grams.agg(count(lit(1)).as("__n"))
    val both = mh.intersect(sh).agg(count(lit(1)).as("n_both"))
    val na = mh.agg(count(lit(1)).as("n_minhash"))
    val nb = sh.agg(count(lit(1)).as("n_simhash"))
    na.crossJoin(nb).crossJoin(both).crossJoin(nQ).crossJoin(nAll)
      .select(expr("__nq * (__n - 1)").as("n_universe"),
        col("n_minhash"), col("n_simhash"), col("n_both"))
      // po cross-multiplies in DECIMAL(38,0) for the same reason pe does:
      // n_universe ~ n²/8, so the BIGINT numerator would overflow past
      // ~10⁷ docs while the contract claims 10⁹.
      .withColumn("po_ppm", expr(
        """cast((cast(n_universe - n_minhash - n_simhash + 2 * n_both
              as decimal(38,0)) * 1000000)
           div cast(n_universe as decimal(38,0)) as bigint)"""))
      .withColumn("pe_ppm", expr(
        """cast((cast(n_minhash as decimal(38,0)) * n_simhash
              + cast(n_universe - n_minhash as decimal(38,0))
                * (n_universe - n_simhash)) * 1000000
            div (cast(n_universe as decimal(38,0)) * n_universe)
            as bigint)"""))
      .withColumn("kappa_ppm",
        when(col("pe_ppm") < 1000000L, expr(
          "((po_ppm - pe_ppm) * 1000000) div (1000000 - pe_ppm)")))
      .withColumn("pair_jaccard_ppm",
        when(col("n_minhash") + col("n_simhash") - col("n_both") > 0, expr(
          """(n_both * 1000000)
             div (n_minhash + n_simhash - n_both)""")))
  }

  def minhashParamAudit(docs: DataFrame,
      configs: Seq[(Int, Int)] = Seq((12, 2), (8, 3), (4, 6)),
      tauPpm: Long = 500000L, shingleSize: Int = 3,
      sampleMod: Long = 8L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(configs.nonEmpty && configs.forall { case (b, r) => b >= 1 && r >= 1 })
    val k = configs.map { case (b, r) => b * r }.max
    require(configs.forall { case (b, r) => b * r == k },
      "all configs must use the same signature width k = bands*rows")
    val (ca, cb) = coefs(k)

    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > lit(0))

    // corpus-wide distinct gram-hash sets, SORTED ONCE at build time
    // (map-only) so every exact-side pair evaluation is a
    // zero-allocation merge — array_intersect builds a hash set per
    // pair and was the measured 28.7 s top cost of this audit at
    // sf0.1 (see [[SortedIntersectCountExpr]])
    val grams = docs
      .select(col(idCol).as("__id"), toks.as("__t"))
      .filter(size(col("__t")) >= shingleSize)
      .select(col("__id"), Classifier.tokenHashes(col("__t")).as("__th"))
      .select(col("__id"),
        sort_array(array_distinct(
          transform(sequence(lit(0), size(col("__th")) - shingleSize),
            i => Classifier.gramHashOfHashes(col("__th"), i, shingleSize))))
          .as("__g"))
      .cache()
    grams.count() // eager: query slice, exact side, signatures read it
    val queries = grams.filter(Splits.hashBucketN(col("__id"), sampleMod) === 0)

    // ---- exact ground truth: sampled queries × full corpus ---------
    val ga = queries.select(col("__id").as("__ida"), col("__g").as("__ga"))
    val gb = grams.select(col("__id").as("__idb"), col("__g").as("__gb"))
    val exact = ga.join(gb, col("__ida") =!= col("__idb"))
      .select(col("__ida"), col("__idb"),
        Columns.ofExpr(SortedIntersectCountExpr(
          Columns.exprOf(col("__ga")), Columns.exprOf(col("__gb"))))
          .as("__ni"),
        (size(col("__ga")) + size(col("__gb"))).cast(LongType).as("__sum"))
      .select(col("__ida"), col("__idb"),
        // integer division: |union| = sum - inter >= 1 (sets nonempty)
        expr("(__ni * 1000000) div (__sum - __ni)").as("__jppm"))

    // ---- banded candidates over the shared k-wide signature --------
    val sig = grams.select(col("__id"),
      Columns.ofExpr(MinHashSigExpr(Columns.exprOf(col("__g")), ca, cb, P))
        .as("__sig")).cache()
    sig.count() // eager: the query side re-reads the corpus band table
    val cfgRows = configs.zipWithIndex.map { case ((b, r), ix) => (ix, b, r) }
    val bandRows = cfgRows.map { case (ix, b, r) =>
      sig.select(col("__id"), lit(ix).as("__cfg"),
        posexplode(transform(sequence(lit(0), lit(b - 1)),
          j => aggregate(slice(col("__sig"), j * r + 1, lit(r)),
            lit(0L), (acc, s) => (acc * 10007L + s) % lit(P))))
          .as(Seq("__band", "__key")))
    }.reduce(_ unionAll _)
    val qBandRows = bandRows
      .filter(Splits.hashBucketN(col("__id"), sampleMod) === 0)
    val cand = qBandRows.alias("x")
      .join(bandRows.alias("y"),
        col("x.__cfg") === col("y.__cfg") && col("x.__band") === col("y.__band") &&
          col("x.__key") === col("y.__key") && col("x.__id") =!= col("y.__id"))
      .select(col("x.__cfg").as("__cfg"), col("x.__id").as("__ida"),
        col("y.__id").as("__idb"))
      .distinct()

    // ---- per-config rollup (every candidate pair IS in `exact`) ----
    val nSample = queries.agg(count(lit(1)).as("__ns"))
    val trueTotal = exact.filter(col("__jppm") >= tauPpm)
      .agg(count(lit(1)).as("__ntrue"))
    val spark = docs.sparkSession
    import spark.implicits._
    val cfgDf = cfgRows.toDF("__cfg", "bands", "rows_per_band")
    val perCfg = cand.join(exact, Seq("__ida", "__idb"))
      .groupBy("__cfg")
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("__jppm") >= tauPpm, 1L).otherwise(0L)).as("n_hit"))
    cfgDf
      .join(perCfg, Seq("__cfg"), "left")
      .na.fill(0L, Seq("n_cand", "n_hit"))
      .crossJoin(broadcast(nSample))
      .crossJoin(broadcast(trueTotal))
      .select(col("bands").cast(LongType), col("rows_per_band").cast(LongType),
        col("__ns").as("n_sample"), col("__ntrue").as("n_true"),
        col("n_cand"), col("n_hit"),
        when(col("__ntrue") > 0, expr("(n_hit * 1000000) div __ntrue"))
          .as("recall_ppm"),
        when(col("n_cand") > 0, expr("(n_hit * 1000000) div n_cand"))
          .as("precision_ppm"))
      .orderBy(col("bands").desc)
  }
}
