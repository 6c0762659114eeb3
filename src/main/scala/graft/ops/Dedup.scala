package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Deduplication operators for training-data pipelines, from exact to
  * fuzzy, each with an explicit scale path:
  *
  *   - exact: hash groupBy on the content key — one shuffle, map-side
  *     partial agg; at 100 TB group on a fingerprint (cheap long)
  *     instead of raw text to keep exchange rows narrow.
  *   - MinHash+LSH: shingle → minhash signature → bands →
  *     bucket-join. The band join only pairs colliding buckets, so
  *     cost tracks the number of true near-dup pairs, not n².
  *   - SimHash: 64-bit signature + 16-bit band buckets → Hamming
  *     verify. Signature is one map pass; candidate generation is a
  *     4-way band shuffle (self-join per band, like MinHash bands).
  *   - n-gram Jaccard: exact verifier used on candidate pairs (or
  *     window-blocked pairs for oracle-checkable demos).
  *   - embedding near-dup: cosine nearest neighbor per vector inside
  *     a blocking key (label) — scale path swaps the block-join for
  *     the LSH index in [[Similarity]].
  */
object Dedup {

  // ------------------------------------------------------------ exact
  /** Group identical content: survivor id (min) + multiplicity per
    * distinct key. */
  def exactGroups(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Keep one row per content key (deterministic survivor: min id).
    *
    * The window partition key leads with `xxhash64(key)` so the sort
    * inside each exchange partition compares 8-byte fingerprints and
    * only falls through to the raw key on fingerprint ties — for a
    * text key that turns every sort comparison from a full document
    * compare into a long compare. The raw key stays as a secondary
    * partition column, so two texts colliding on the fingerprint still
    * land in separate window groups: exactness does not depend on
    * hash uniqueness. */
  def dropExact(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(keyCol)), col(keyCol)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** The C4/Gopher-style canonical form for "fuzzy-exact" dedup:
    * casefold, strip everything but letters∕digits∕whitespace,
    * collapse whitespace runs, trim. Catches the re-hosted copy that
    * differs only in punctuation, capitalization or spacing — which
    * byte-exact dedup misses and MinHash wastes a full near-dup
    * funnel on. ASCII-exact parity with the oracle's RE2 classes;
    * non-ASCII casefold can differ between JVM and RE2 locales (the
    * documented boundary — run ICU normalization upstream if the
    * corpus needs it). */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]+", " "),
      "\\s+", " "))

  /** Exact dedup on [[canonicalText]]: one row per canonical form
    * (survivor = min id), carrying `n_copies` — the multiplicity the
    * canonical class collapsed. Scale shape: identical to
    * [[dropExact]]'s (the canonicalization is a codegen'd map in the
    * same pass; the aggregation keys lead with the 8-byte xxhash64
    * fingerprint so sort∕agg compares are long compares), one
    * shuffle total. */
  def normalizedExactDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val canon = canonicalText(col(textCol))
    val groups = docs
      .select(col(idCol), xxhash64(canon).as("__fp"), canon.as("__canon"))
      .groupBy(col("__fp"), col("__canon"))
      .agg(min(col(idCol)).as("__keep"), count(lit(1)).as("n_copies"))
      .select(col("__keep"), col("n_copies"))
    docs.join(groups, docs(idCol) === groups("__keep"))
      .drop("__keep")
  }

  // ---------------------------------------------------------- minhash
  /** Native banded-MinHash near-dup pairs: shingle → k integer
    * minhashes (codegen'd array folds over xxhash64) → band keys →
    * narrow equi-join on (band, key) → distinct candidate ids →
    * re-join shingle sets → exact Jaccard verify.
    *
    * Scale design: the only shuffles are (1) the band join, whose rows
    * are 3 longs each regardless of document size, and (2) two hash
    * joins to re-attach shingle sets to the (small) candidate set.
    * Collision probability per band is jaccard^rowsPerBand, OR'd over
    * `bands`, so join fan-out tracks true similarity, not corpus size.
    * Returns (doc_a, doc_b, jaccard_dist), doc_a < doc_b.
    *
    * Skew guard: a band bucket with more than `maxBandBucket` members
    * (the stop-shingle / boilerplate flood — the known MinHash failure
    * mode at corpus scale, where one bucket of m docs would emit
    * m²/2 candidate rows into a single task) switches from the
    * all-pairs clique to a STAR on the bucket's min-id representative:
    * m−1 candidates, each still exact-verified. Dedup connectivity
    * through the bucket is preserved (every member links to the rep),
    * junk floods die in the verify exactly as their clique pairs
    * would, and genuinely-similar pairs inside a capped bucket retain
    * their `bands`−1 other chances to collide in an uncapped band —
    * the same probabilistic-recall contract banding already has. Per-
    * bucket fan-out is thus ≤ max(maxBandBucket², m) instead of m². */
  def minhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleSize: Int = 3,
      bands: Int = 10, rowsPerBand: Int = 5,
      maxJaccardDist: Double = 0.5, seed: Long = 42L,
      maxBandBucket: Int = 256): DataFrame = {
    val p = 2147483647L // 2^31 - 1, Mersenne prime
    val coefs = minhashCoefs(bands * rowsPerBand, seed, p)

    // Cached because three plan branches (band keys, verify-side A,
    // verify-side B) reuse it — see [[hashedShingles]] for why only
    // the hashed sets are kept.
    val shingled = hashedShingles(docs, idCol, textCol, shingleSize, p).cache()

    // cached: (id, band, key) is 3 longs per row, and the frame feeds
    // FOUR plan branches (bucket stats, both self-join sides, hot
    // stars) — uncached, each branch would recompute the k-hash
    // MinHash signatures, the dominant cost of the whole operator.
    // Like `shingled` above (and deduplicate's `exact`), this cache is
    // deliberately retained past the call: the returned pair frame is
    // lazy and still references it. Long-lived sessions release both
    // via catalog.clearCache() or by unpersisting after materializing
    // the pairs.
    val banded = bandRows(shingled, idCol, coefs, bands, rowsPerBand, p)
      .cache()

    val candidates = selfBandCandidates(banded, idCol, maxBandBucket)
    jaccardVerify(candidates, shingled, shingled, idCol,
      "doc_a", "doc_b", maxJaccardDist)
  }

  /** Self-join band candidates with the clique→star skew guard:
    * (doc_a < doc_b) pairs colliding in any band, distinct. Bucket
    * sizes + representative come from one map-side-combinable pass
    * whose (band, key) exchange is then shared with the self-join, so
    * routing costs one aggregate, not an extra shuffle. */
  private def selfBandCandidates(banded: DataFrame, idCol: String,
      maxBandBucket: Int): DataFrame = {
    val stats = banded.groupBy("band", "key")
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("rep"))
    val routed = banded.join(stats, Seq("band", "key"))
    val cold = routed.filter(col("cnt") <= maxBandBucket)
      .select(col(idCol), col("band"), col("key"))
    val coldPairs = cold.alias("a")
      .join(cold.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
    val hotStars = routed.filter(col("cnt") > maxBandBucket)
      .filter(col(idCol) =!= col("rep"))
      .select(col("rep").as("doc_a"), col(idCol).as("doc_b"))
    coldPairs.union(hotStars).distinct()
  }

  /** Route a corpus-side band table through the skew guard ONCE:
    * buckets above `maxBandBucket` collapse to their min+max-id
    * representatives (see [[incrementalMinhashPairs]] for the
    * contract), cold buckets keep every member. Output is the
    * (corpus_id, band, key) candidate side an increment joins
    * against — in production this is what gets STORED (bucketed by
    * (band, key)), so no increment ever re-aggregates corpus bucket
    * stats. */
  private def routeBands(bandCorpus: DataFrame, idCol: String,
      maxBandBucket: Int): DataFrame = {
    val stats = bandCorpus.groupBy("band", "key")
      .agg(count(lit(1)).as("cnt"),
        min(col(idCol)).as("rep"), max(col(idCol)).as("rep2"))
    val routedC = bandCorpus.join(stats, Seq("band", "key"))
    val coldC = routedC.filter(col("cnt") <= maxBandBucket)
      .select(col(idCol).as("corpus_id"), col("band"), col("key"))
    val hotC = routedC.filter(col("cnt") > maxBandBucket)
      .select(explode(array(col("rep"), col("rep2"))).as("corpus_id"),
        col("band"), col("key")).distinct()
    coldC.union(hotC)
  }

  /** Cross-set band candidates against an already-routed corpus side:
    * (new_id, corpus_id) pairs colliding in any band, self-pairs
    * excluded. One equi-join + distinct — all the routing work lives
    * in [[routeBands]]. */
  private def crossBandCandidates(bandNew: DataFrame, routedCorpus: DataFrame,
      idCol: String): DataFrame =
    bandNew.select(col(idCol).as("new_id"), col("band"), col("key"))
      .join(routedCorpus, Seq("band", "key"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select("new_id", "corpus_id").distinct()

  /** Exact-Jaccard verify of candidate (aCol, bCol) id pairs over the
    * hashed shingle sets of each side; keeps pairs with
    * jaccard_dist <= maxJaccardDist. */
  private def jaccardVerify(candidates: DataFrame, shA: DataFrame,
      shB: DataFrame, idCol: String, aCol: String, bCol: String,
      maxJaccardDist: Double): DataFrame = {
    val ga = shA.select(col(idCol).as(aCol), col("hs").as("ga"))
    val gb = shB.select(col(idCol).as(bCol), col("hs").as("gb"))
    val nInter = size(array_intersect(col("ga"), col("gb"))).cast(DoubleType)
    val nUnion = (size(col("ga")) + size(col("gb"))).cast(DoubleType) - nInter
    candidates.join(ga, aCol).join(gb, bCol)
      .select(col(aCol), col(bCol),
        (lit(1.0) - nInter / nUnion).as("jaccard_dist"))
      .filter(col("jaccard_dist") <= maxJaccardDist)
  }

  /** The seeded universal-hash family shared by every MinHash
    * operator: k (a, b) pairs for h_i(x) = (a_i·x + b_i) mod p. */
  private def minhashCoefs(k: Int, seed: Long, p: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((math.abs(rnd.nextLong()) % (p - 1) + 1, math.abs(rnd.nextLong()) % p))
  }

  /** (id, hs: array<long>) — each shingle string hashed ONCE into a
    * long; all k minhash permutations then fold over cheap longs
    * instead of re-hashing strings k times.
    *
    * Tokens are materialized as a column attribute BEFORE shingling:
    * the n-gram lambda references its token array per element, and a
    * raw split() expression there would re-run the regex split per
    * gram (no subexpression elimination inside lambda bodies —
    * measured 10s of the 16s pipeline on 5k docs).
    *
    * Only the HASHED shingle sets are emitted: columnar-cache
    * serialization of the raw shingle strings costs more than the
    * whole join (measured 8s vs 2s recompute on 5k docs), and both
    * the signature and the Jaccard verify are functions of the
    * 64-bit hashes (set sizes identical barring ~1e-10 collisions).
    * The too-short filter tests token count, NOT size(shingles):
    * predicate pushdown would substitute the whole gram pipeline
    * (with split() re-inlined per element) into the filter condition
    * — measured as 8s of a 10s job on 5k docs. */
  private def hashedShingles(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, p: Long): DataFrame =
    docs
      .select(col(idCol), TextStats.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= shingleSize)
      .select(col(idCol), wordNgrams(col("toks"), shingleSize).as("shingles"))
      .select(col(idCol),
        transform(col("shingles"), s => pmod(xxhash64(s), lit(p))).as("hs"))

  /** (id, band, key) rows from hashed shingle sets: k minhash values
    * in ONE array pass (custom expression — k transform+array_min
    * folds would allocate k temp arrays per row), then one 64-bit key
    * per band = hash of that band's signature slice. */
  private def bandRows(shingled: DataFrame, idCol: String,
      coefs: Seq[(Long, Long)], bands: Int, rowsPerBand: Int, p: Long): DataFrame = {
    val sig = graft.engine.Columns.ofExpr(MinHashSigExpr(
      graft.engine.Columns.exprOf(col("hs")),
      coefs.map(_._1).toArray, coefs.map(_._2).toArray, p))
    val bandKeys = array((0 until bands).map { bi =>
      struct(lit(bi).as("band"),
        xxhash64(slice(col("sig"), bi * rowsPerBand + 1, rowsPerBand)).as("key"))
    }: _*)
    shingled
      .withColumn("sig", sig)
      .select(col(idCol), explode(bandKeys).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.key"))
  }

  /** Incremental near-dup detection: a NEW batch against an EXISTING
    * corpus — the daily-increment shape of production dedup, where
    * re-running all-pairs over corpus+batch would redo corpus-sized
    * work for a batch-sized question. Both sides use the same seeded
    * hash family, so a batch doc collides with a corpus doc in a band
    * exactly as it would inside one all-pairs run; the join is
    * batch-bands × corpus-bands on (band, key) — in production the
    * corpus band table is computed once and stored, so each increment
    * shuffles only its own 3-long band rows plus the colliding
    * bucket's, and cost tracks batch size + true cross-set pairs,
    * never corpus².
    *
    * Skew guard mirrors [[minhashPairs]]: a corpus-side band bucket
    * larger than `maxBandBucket` (boilerplate flood) collapses to TWO
    * representatives (min and max id) — each batch doc in that bucket
    * pairs with the reps instead of all m members (fan-out ≤
    * batch-members × 2), keeping the same probabilistic-recall
    * contract via the other bands. Two reps, not one, so a batch doc
    * that itself IS the min-id member of an overlapping corpus still
    * links into the bucket after self-pair exclusion.
    *
    * Returns (new_id, corpus_id, jaccard_dist), exact-verified,
    * jaccard_dist <= maxJaccardDist. Self-pairs (same id on both
    * sides, when corpus overlaps batch) are excluded. */
  def incrementalMinhashPairs(batch: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, bands: Int = 10, rowsPerBand: Int = 5,
      maxJaccardDist: Double = 0.5, seed: Long = 42L,
      maxBandBucket: Int = 256): DataFrame = {
    val p = 2147483647L
    val coefs = minhashCoefs(bands * rowsPerBand, seed, p)

    // both hashed-shingle frames feed two branches (bands + verify) —
    // cached with the same retained-past-call contract as minhashPairs
    val shB = hashedShingles(batch, idCol, textCol, shingleSize, p).cache()
    val shC = hashedShingles(corpus, idCol, textCol, shingleSize, p).cache()
    val bandB = bandRows(shB, idCol, coefs, bands, rowsPerBand, p)
    val bandC = bandRows(shC, idCol, coefs, bands, rowsPerBand, p)
    val candidates = crossBandCandidates(bandB,
      routeBands(bandC, idCol, maxBandBucket), idCol)
    jaccardVerify(candidates, shB, shC, idCol,
      "new_id", "corpus_id", maxJaccardDist)
  }

  /** Incremental dedup FUNNEL: which batch documents to ADMIT against
    * an existing survivor corpus — the daily-increment completion of
    * [[incrementalMinhashPairs]] (pairs answer "what collides";
    * this answers "what do I add"). Three layers, each batch-sized:
    *
    *   1. exact — min-id survivor per batch text
    *      ([[dropExact]]), then drop any text already present in the
    *      corpus (left_anti equi-join on the text; at 100 TB, join on
    *      a stored xxhash64 fingerprint column instead — same shape);
    *   2. cross near-dup — drop batch docs with any banded-MinHash
    *      verified pair into the corpus (cost tracks batch size +
    *      true cross pairs, never corpus²);
    *   3. within-batch near-dup — all-pairs banding over the REMAINING
    *      batch docs only, connected components, min-id survivor per
    *      cluster (the batch is increment-sized, so the all-pairs
    *      machinery that would be corpus-prohibitive is cheap here).
    *
    * Returns the admitted batch rows with their original columns.
    * Deterministic: every layer is a pure function of (id, text). */
  def incrementalDeduplicate(batch: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, maxJaccardDist: Double = 0.3,
      bands: Int = 10, rowsPerBand: Int = 5, seed: Long = 42L,
      maxBandBucket: Int = 256): DataFrame =
    incrementalDeduplicateIndexed(batch,
      indexCorpus(corpus, idCol, textCol, shingleSize, bands, rowsPerBand,
        seed, maxBandBucket),
      idCol, textCol, shingleSize, maxJaccardDist,
      bands, rowsPerBand, seed, maxBandBucket)

  /** The corpus-side artifacts every increment needs: hashed shingle
    * sets (for the exact-Jaccard verify), PRE-ROUTED band rows (the
    * skew-guarded candidate side — corpus bucket stats are aggregated
    * once here, never per increment) and the distinct text set (for
    * the exact layer). In production these are computed ONCE when the
    * corpus changes and STORED (parquet, band rows bucketed by
    * (band, key) so the increment's candidate join is co-located) —
    * each daily increment then reads them instead of re-hashing the
    * corpus, which is the whole point of incremental dedup: re-banding
    * N corpus documents per increment would make the increment
    * corpus-sized. Here the frames are cached;
    * [[incrementalDeduplicate]] builds a transient one per call for
    * convenience.
    *
    * `bandRows` columns: (corpus_id, band, key) — hot buckets already
    * collapsed to their min+max-id representatives under the
    * `maxBandBucket` the index was built with. */
  final case class CorpusDedupIndex(
      shingles: DataFrame, bandRows: DataFrame, texts: DataFrame,
      maxBandBucket: Int) {
    /** Release the index's caches — for transient per-call/per-batch
      * indexes (e.g. a streaming foreachBatch) that must not
      * accumulate cached frames across invocations. */
    def unpersistAll(blocking: Boolean = false): Unit = {
      shingles.unpersist(blocking)
      bandRows.unpersist(blocking)
      texts.unpersist(blocking)
    }
  }

  def indexCorpus(corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, bands: Int = 10, rowsPerBand: Int = 5,
      seed: Long = 42L, maxBandBucket: Int = 256): CorpusDedupIndex = {
    val p = 2147483647L
    val coefs = minhashCoefs(bands * rowsPerBand, seed, p)
    val shC = hashedShingles(corpus, idCol, textCol, shingleSize, p).cache()
    CorpusDedupIndex(shC,
      routeBands(bandRows(shC, idCol, coefs, bands, rowsPerBand, p),
        idCol, maxBandBucket).cache(),
      corpus.select(col(textCol)).distinct().cache(),
      maxBandBucket)
  }

  /** Extend a corpus index with newly ADMITTED documents WITHOUT
    * re-indexing the corpus — the post-admission step that closes the
    * increment loop: admit batch N against the index, append the
    * admitted docs, admit batch N+1, … Each append costs hashing the
    * admitted docs only. The appended band rows are NOT re-routed: a
    * bucket that turns hot purely through appends stays clique-shaped
    * until the next full re-index (the compaction every production
    * index runs anyway) — that affects only the fan-out guard, never
    * which pairs are semantically near-dups, so admissions equal those
    * against a freshly built index of corpus+admitted as long as no
    * appended bucket crosses `maxBandBucket` (assert with
    * [[maxBandBucketSize]] when in doubt). Callers should materialize
    * `admitted` (cache/checkpoint/storage) first — a lazy admitted
    * frame would re-run its whole funnel on every index use. */
  def appendToIndex(index: CorpusDedupIndex, admitted: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, bands: Int = 10, rowsPerBand: Int = 5,
      seed: Long = 42L): CorpusDedupIndex = {
    val p = 2147483647L
    val coefs = minhashCoefs(bands * rowsPerBand, seed, p)
    val shA = hashedShingles(admitted, idCol, textCol, shingleSize, p)
    CorpusDedupIndex(
      index.shingles.unionByName(shA),
      index.bandRows.unionByName(
        bandRows(shA, idCol, coefs, bands, rowsPerBand, p)
          .select(col(idCol).as("corpus_id"), col("band"), col("key"))),
      index.texts.unionByName(admitted.select(col(textCol)).distinct()),
      index.maxBandBucket)
  }

  /** Persist a corpus dedup index to storage — the production shape
    * where the index is computed once per corpus refresh and every
    * increment READS it instead of re-hashing the corpus. Band rows
    * are written BUCKETED by (band, key) (an external parquet-backed
    * table, the only write path Spark exposes bucketing through):
    * an increment's candidate join against them then needs no exchange
    * on the corpus side — only the batch's own 3-long band rows
    * shuffle, which is the 100 TB contract stated on
    * [[CorpusDedupIndex]], here made real rather than argued. */
  def saveIndex(spark: SparkSession, index: CorpusDedupIndex, dir: String,
      table: String = "graft_dedup_band_rows", buckets: Int = 32): Unit = {
    index.shingles.write.mode("overwrite").parquet(s"$dir/shingles")
    index.texts.write.mode("overwrite").parquet(s"$dir/texts")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    index.bandRows.write.mode("overwrite")
      .bucketBy(buckets, "band", "key").sortBy("band", "key")
      .option("path", s"$dir/band_rows").format("parquet").saveAsTable(table)
  }

  /** Load a stored corpus dedup index. Frames are storage-backed, not
    * cached — the point of the stored index is that increments read
    * it; the band-row table keeps its bucketing, so the candidate join
    * plans with no corpus-side exchange. `maxBandBucket` must match
    * the value the index was BUILT with (it documents the routing
    * already baked into the stored band rows; it is not re-applied). */
  def loadIndex(spark: SparkSession, dir: String,
      table: String = "graft_dedup_band_rows",
      maxBandBucket: Int = 256): CorpusDedupIndex =
    CorpusDedupIndex(
      spark.read.parquet(s"$dir/shingles"),
      spark.table(table),
      spark.read.parquet(s"$dir/texts"),
      maxBandBucket)

  /** [[incrementalDeduplicate]] against a prebuilt (stored or cached)
    * corpus index — the amortized production path: per-increment work
    * is batch-sized hashing plus joins against the index. The batch's
    * own hash family must match the index's (same seed/bands/rows).
    * `maxBandBucket` here governs only the WITHIN-batch skew guard;
    * the corpus side was routed when the index was built. */
  def incrementalDeduplicateIndexed(batch: DataFrame, index: CorpusDedupIndex,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, maxJaccardDist: Double = 0.3,
      bands: Int = 10, rowsPerBand: Int = 5, seed: Long = 42L,
      maxBandBucket: Int = 256): DataFrame = {
    // GRAFT_FUNNEL_DEBUG=1: force-materialize each layer and print its
    // wall time — the profiling hook behind the layer-cost numbers in
    // the scaladoc. Forcing changes the execution (caches fill layer by
    // layer instead of inside one DAG), so it is debug-only.
    val dbg = sys.env.contains("GRAFT_FUNNEL_DEBUG")
    def phase[T](name: String)(body: => T): T =
      if (!dbg) body else {
        val t0 = System.nanoTime()
        val r = body
        r match { case d: Dataset[_] => d.count(); case _ => () }
        println(f"FUNNEL $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
    val p = 2147483647L
    val coefs = minhashCoefs(bands * rowsPerBand, seed, p)
    // cached: feeds the cross-pair banding AND the anti-join spine
    // (same retained-past-call contract as deduplicate's `exact`)
    val exactBatch = phase("exact")(dropExact(batch, textCol, idCol)
      .join(index.texts, Seq(textCol), "left_anti")
      .cache())
    // the batch side is shingled and banded ONCE, from the RAW batch —
    // not from the exact layer's survivors — so the per-doc hash
    // pipeline runs CONCURRENTLY with the exact layer's window +
    // anti-join instead of behind them (independent stages of one job
    // schedule in parallel). Exact-dropped docs contribute a few extra
    // candidate rows that die in the kept/semi joins; semantics are
    // unchanged because every downstream consumer filters through
    // keptIds (and a dropped doc's surviving exact-twin has the same
    // shingle set, hence identical cross verdicts). Layers 2 and 3
    // both consume the same cached band rows: semi-joining the band
    // ROWS to the post-cross survivors gives exactly the band rows
    // re-banding the survivors would produce, minus a second
    // signature pipeline.
    val shB = phase("shingle")(hashedShingles(batch, idCol, textCol, shingleSize, p).cache())
    val bandB = phase("band")(bandRows(shB, idCol, coefs, bands, rowsPerBand, p).cache())
    // no distinct on the dropped-id side: the left_anti join below
    // dedups inherently, so the extra exchange would be pure latency
    val crossDropped = phase("cross")(jaccardVerify(
        crossBandCandidates(bandB, index.bandRows, idCol),
        shB, index.shingles, idCol, "new_id", "corpus_id", maxJaccardDist)
      .select(col("new_id").as(idCol)))
    val kept = phase("kept")(exactBatch.join(crossDropped, Seq(idCol), "left_anti").cache())
    val keptIds = kept.select(col(idCol))
    // survivors are restricted BEFORE candidate generation so the hot-
    // bucket star representative is chosen among survivors — identical
    // to re-banding the kept docs (banding is per-doc). Filtering the
    // candidate pairs AFTER generation instead would silently drop an
    // entire hot bucket's star edges whenever its pre-drop rep was
    // removed by the cross layer, admitting within-batch near-dups.
    val bandKept = bandB.join(keptIds, Seq(idCol), "left_semi")
    val selfCands = selfBandCandidates(bandKept, idCol, maxBandBucket)
    val pairs = phase("selfpairs")(jaccardVerify(selfCands, shB, shB, idCol,
      "doc_a", "doc_b", maxJaccardDist))
    val clusterDropped = phase("cc")(connectedComponents(pairs)
      .filter(col("cluster") < col("id")).select(col("id").as(idCol)))
    kept.join(clusterDropped, Seq(idCol), "left_anti")
  }

  /** Diagnostic: the largest (band, key) bucket size the given docs
    * produce under the banding parameters — the quantity the
    * hot-bucket skew guard keys on. Exposed so verify-time self-checks
    * can assert a tested corpus stayed below `maxBandBucket`: when
    * that holds, the banded candidate set is exactly the un-guarded
    * one, so an oracle divergence on a pairs query is attributable to
    * banding recall or verify arithmetic, never to silent rep
    * collapse. */
  def maxBandBucketSize(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleSize: Int = 3,
      bands: Int = 10, rowsPerBand: Int = 5, seed: Long = 42L): Long = {
    val p = 2147483647L
    val coefs = minhashCoefs(bands * rowsPerBand, seed, p)
    val banded = bandRows(
      hashedShingles(docs, idCol, textCol, shingleSize, p),
      idCol, coefs, bands, rowsPerBand, p)
    banded.groupBy("band", "key").agg(count(lit(1)).as("cnt"))
      .agg(max(col("cnt"))).collect().headOption
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).getOrElse(0L)
  }

  /** Per-document minhash signatures (k longs) — the input to
    * group-level sketching via [[MinHashMerge]]. Same hash family and
    * defaults as [[minhashPairs]]. */
  def minhashSignaturesOf(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleSize: Int = 3,
      numHashes: Int = 50, seed: Long = 42L): DataFrame = {
    val p = 2147483647L
    val coefs = minhashCoefs(numHashes, seed, p)
    hashedShingles(docs, idCol, textCol, shingleSize, p)
      .select(col(idCol), graft.engine.Columns.ofExpr(MinHashSigExpr(
        graft.engine.Columns.exprOf(col("hs")),
        coefs.map(_._1).toArray, coefs.map(_._2).toArray, p)).as("sig"))
  }

  // ---------------------------------------------------------- simhash
  /** Per-document 64-bit SimHash signature. */
  def simhashSignatures(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      SimHash.simhash64(TextStats.tokens(col(textCol))).as("simhash"))

  /** Candidate pairs within `maxHamming` bits, generated by exact
    * match on any of the four 16-bit bands (pigeonhole: ≤3 differing
    * bits ⇒ at least one band identical), verified with bit_count. */
  def simhashCandidates(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSignatures(docs, idCol, textCol)
    val banded = sigs.select(col(idCol), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*))
        .as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band"), col("bk.key"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---------------------------------------- n-gram Jaccard (verifier)
  /** Word n-grams of a token array ("a b", "b c", ...). Empty when the
    * document is shorter than n tokens. */
  def wordNgrams(tokens: Column, n: Int): Column = {
    require(n >= 1)
    when(size(tokens) >= n, wordNgramsUnguarded(tokens, n))
      .otherwise(array().cast("array<string>"))
  }

  /** [[wordNgrams]] without the short-row guard — callers must filter
    * `size(tokens) >= n` FIRST. Worth having separately: the guarded
    * spelling wraps the HOF chain in a CASE WHEN, and a downstream
    * `filter(size(grams) > 0)` then gets pushdown-substituted below
    * the projection so the whole guarded chain evaluates twice —
    * measured 13× the wall of filter-on-token-count-then-build. */
  private[ops] def wordNgramsUnguarded(tokens: Column, n: Int): Column =
    if (n == 1) array_distinct(tokens)
    else array_distinct(transform(sequence(lit(0), size(tokens) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(tokens, i + j + 1)): _*)))

  /** Exact Jaccard over distinct n-gram sets for pairs inside a
    * blocking window (same lang, id distance ≤ window). The window
    * block keeps the demo linear; production-scale candidate
    * generation is [[minhashPairs]] / [[simhashCandidates]], with this
    * as the exact verify stage.
    *
    * The id-window predicate is turned into an EQUI-join key
    * (`doc_id div window`, probing own + next bucket) so the join
    * never enumerates the |lang|² cross pairs — with only `lang` as
    * the key, every same-language pair would flow through the join
    * carrying its gram array (quadratic row traffic at any scale).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 2, window: Int = 25,
      minJaccard: Double = 0.2, idCol: String = "doc_id",
      textCol: String = "text", blockCol: String = "lang"): DataFrame = {
    // Set sizes are computed on 64-bit hashes of the distinct grams:
    // long-array intersection beats string-array intersection by the
    // string-compare cost, and a 64-bit collision inside one pair's
    // sets (~1e-10 odds corpus-wide) is the only way counts differ.
    val grams = docs
      .select(col(idCol), col(blockCol),
        TextStats.tokens(col(textCol)).as("toks")) // attribute, not expr: see minhashPairs
      .select(col(idCol), col(blockCol),
        transform(wordNgrams(col("toks"), n), g => xxhash64(g)).as("grams"))
      .cache() // both join sides scan this; grams are 8-byte hashes
    grams.count() // eager: avoid the two join branches racing the cache
    val bucket = (col(idCol) / window).cast("long")
    // probe side: each doc looks into its own and the next id-bucket
    val a = grams
      .withColumn("jbucket", explode(array(bucket, bucket + 1)))
      .alias("a")
    val b = grams.withColumn("jbucket", bucket).alias("b")
    val nInter = size(array_intersect(col("a.grams"), col("b.grams"))).cast(DoubleType)
    val nUnion = (size(col("a.grams")) + size(col("b.grams"))).cast(DoubleType) - nInter
    a.join(b,
        col("a.jbucket") === col("b.jbucket") &&
          col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          col(s"b.$idCol") <= col(s"a.$idCol") + window)
      .select(
        col(s"a.$idCol").as("doc_a"),
        col(s"b.$idCol").as("doc_b"),
        (nInter / nUnion).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** ASYMMETRIC containment pairs: (small, big) where
    * `|grams(small) ∩ grams(big)| / |grams(small)| ≥ tauPct∕100` over
    * distinct word n-gram sets — the quote-inside-article / excerpt
    * detector. Symmetric Jaccard misses exactly these: a 50-token
    * quote fully contained in a 5000-token article has Jaccard ≈ 0.01
    * but containment 1.0, and excerpt-dup is how most press-release /
    * syndication duplication appears in a crawl.
    *
    * Orientation is deterministic: "small" is the side with fewer
    * distinct grams, ties toward the lower id. The verdict is an
    * integer cross-multiply (`inter · 100 ≥ tauPct · n_small`) and
    * the reported score an exact `inter · 1e6 ∕∕ n_small` ppm — no
    * float division for an oracle to disagree with.
    *
    * Candidate generation is an inverted-index self-join on shared
    * grams (recall 1 for any tauPct > 0: a qualifying pair shares
    * ≥ ⌈τ·n_small⌉ ≥ 1 grams), with the pair count collapsed by a
    * map-side-combined `count(*)` per (a, b) — the intersection size
    * falls out of the join itself, so gram ARRAYS never travel through
    * the shuffle (only 8-byte gram hashes do, the [[ngramJaccardPairs]]
    * trick). Worst case is Σ_g df(g)² over hot grams — the same
    * stop-shingle exposure [[minhashPairs]] caps with `maxBandBucket`;
    * at flood risk run this AFTER [[normalizedExactDedup]] (collapsing
    * the exact/near-exact mass that creates hot grams) or raise `n`
    * (longer shingles have exponentially thinner document frequency).
    * An LSH prefilter cannot replace it: banded MinHash bounds
    * Jaccard, which is exactly the metric containment escapes.
    */
  def containmentPairs(docs: DataFrame, n: Int = 3, tauPct: Int = 80,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(tauPct >= 1 && tauPct <= 100)
    // two measured plan rules: filter short docs on TOKEN COUNT before
    // building grams (the guarded wordNgrams + a grams-size filter
    // re-evaluates the HOF chain, 13× wall), and hash AFTER the
    // explode, scalar-wise (a transform(grams, g => xxhash64(g))
    // lambda-over-HOF spelling costs ~30× this plan's CPU)
    val grams = docs
      .select(col(idCol).as("__id"),
        TextStats.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("__id"), wordNgramsUnguarded(col("toks"), n).as("__gs"))
      .select(col("__id"), col("__gs"),
        size(col("__gs")).cast(LongType).as("__n"))
      .cache() // the inverted index and the sizes join both scan this;
    grams.count() // eager, so the two consumers don't race the cache
    val inv = grams.select(col("__id"), explode(col("__gs")).as("__gstr"))
      .select(col("__id"), xxhash64(col("__gstr")).as("__gram"))
    val a = inv.alias("a"); val b = inv.alias("b")
    val inter = a.join(b,
        col("a.__gram") === col("b.__gram") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("ia"), col("b.__id").as("ib"))
      .agg(count(lit(1)).as("inter"))
    val sizes = grams.select(col("__id"), col("__n"))
    val sized = inter
      .join(sizes.select(col("__id").as("ia2"), col("__n").as("na")), col("ia") === col("ia2"))
      .join(sizes.select(col("__id").as("ib2"), col("__n").as("nb")), col("ib") === col("ib2"))
    val aIsSmall = col("na") < col("nb") || (col("na") === col("nb") && col("ia") < col("ib"))
    sized.select(
        when(aIsSmall, col("ia")).otherwise(col("ib")).as("doc_small"),
        when(aIsSmall, col("ib")).otherwise(col("ia")).as("doc_big"),
        when(aIsSmall, col("na")).otherwise(col("nb")).as("n_small"),
        when(aIsSmall, col("nb")).otherwise(col("na")).as("n_big"),
        col("inter"))
      .filter(col("inter") * 100 >= lit(tauPct.toLong) * col("n_small"))
      .withColumn("containment_ppm",
        expr("(inter * 1000000L) div n_small"))
    // the cache stays registered for the caller's action; Bench's
    // post-query sweep (and Verify's session teardown) releases it —
    // the ngramJaccardPairs storage contract
  }

  // ------------------------------------------- clusters and survivors
  /** Connected components over near-dup pair edges by min-label
    * propagation WITH pointer halving: each round every vertex takes
    * the min of its own label, its neighbors' labels, and its label's
    * label (one extra tiny self-join). The label-of-label hop halves
    * remaining path lengths, so convergence is O(log diameter) rounds
    * instead of O(diameter) — near-dup chains (a→b→c→…, each edge one
    * near-dup hop) otherwise cost one full round per link, and every
    * round is a fixed-overhead set of shuffles. At 100 TB each round
    * shuffles (vertex, label) longs only.
    * Returns (id, cluster) where cluster = min id in the component. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 10,
      smallGraphThreshold: Int = 2000000): DataFrame = {
    // localCheckpoint, NOT cache: the per-round join re-aliases the
    // edge side during analysis, which defeats cache LOOKUP — measured
    // in q87's funnel, every round's `neighborMin` recomputed the whole
    // upstream verify pipeline (~1.5 s/round on a 5-edge graph) while
    // the "cached" edges frame sat unused. An eager localCheckpoint
    // cuts the lineage instead, so every round plans against the
    // materialized blocks no matter how the analyzer aliases them.
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint()
    // Small-graph fast path: near-dup edge sets are usually tiny
    // relative to the corpus (pairs track true similarity, not corpus
    // size), and the iterative loop below costs ~5 fixed
    // materializations even for a 5-edge graph. Below the threshold —
    // a hard runtime gate, so the collect is bounded by contract at
    // 2×threshold longs (~32 MB at the default, well inside the 1 GB
    // spark.driver.maxResultSize floor) — run min-label union-find on
    // the driver instead. Long-typed ids only; anything else falls
    // through to the distributed loop. Threshold raised 100 k → 2 M in
    // round 21: q201/q146's phash detector emits ~1 M TRUE pairs on
    // the sf0.1 corpus (dense duplicate cliques are a data property,
    // not a bug), and the distributed loop burned ~33 s of executor
    // CPU + ~30 localCheckpoints on a 5,000-vertex graph the driver
    // folds in under a second; identical labels either way (the spec's
    // pin), and genuinely corpus-scale graphs still take the loop.
    val integral = edges.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (integral && edges.count() <= smallGraphThreshold) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.collect().foreach { row =>
        val a = row.get(0) match { case l: Long => l; case i: Int => i.toLong }
        val b = row.get(1) match { case l: Long => l; case i: Int => i.toLong }
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by VALUE: the smaller root stays root, so every
        // component's final root is its min id — same contract as the
        // distributed loop
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      val labeled = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      edges.unpersist()
      return labeled.toDF("id", "cluster")
    }
    val vertices = edges.select(col("src").as("id")).distinct()
    // Every round's result is EAGERLY materialized with its lineage
    // cut (localCheckpoint): each subsequent round then plans against
    // a materialized-RDD scan, never against the previous rounds' join
    // trees. Per-round Dataset caches are NOT used here — the halving
    // self-join re-aliases one side during analysis, which defeats
    // cache lookup and silently recomputes the full multi-round
    // lineage (~4^rounds blowup, measured in the 100s-of-seconds on a
    // 468-row graph). Superseded round frames become unreachable as
    // the loop advances and their blocks are reclaimed by Spark's
    // ContextCleaner. When a checkpoint dir is configured, every 3rd
    // round ALSO writes a reliable checkpoint (reading the just-
    // materialized local blocks, so no recompute): bounded-loss
    // restart data on a real cluster, where localCheckpoint blocks
    // die with their executor.
    val ccDbg = sys.env.contains("GRAFT_CC_DEBUG")
    def ccPhase[T](name: String)(body: => T): T =
      if (!ccDbg) body else {
        val t0 = System.nanoTime()
        val r = body
        println(f"CC_PHASE $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
    var labels = ccPhase("init")(
      vertices.withColumn("cluster", col("id")).localCheckpoint())
    var converged = false
    var iter = 0
    val sc = pairs.sparkSession.sparkContext
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("id2")).agg(min(col("cluster")).as("nbr_min"))
      // carry the old label through the update so convergence detection
      // is a filter on the same materialized frame, not a second join
      val tentative = ccPhase(s"tentative$iter")(labels
        .join(neighborMin, labels("id") === neighborMin("id2"), "left")
        .select(col("id"), col("cluster").as("prev"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"))
        .localCheckpoint())
      // pointer halving: also adopt the label OF the tentative label.
      // Labels only ever decrease toward the component min, so the
      // extra hop is always safe — and it is what turns path-shaped
      // components from O(diameter) rounds into O(log diameter).
      val parents = tentative
        .select(col("id").as("pid"), col("cluster").as("pcluster"))
      val updatedLocal = ccPhase(s"halve$iter")(tentative
        .join(parents, tentative("cluster") === parents("pid"), "left")
        .select(col("id"), col("prev"),
          least(col("cluster"), coalesce(col("pcluster"), col("cluster"))).as("cluster"))
        .localCheckpoint())
      val updated =
        if (iter % 3 == 2 && sc.getCheckpointDir.isDefined) updatedLocal.checkpoint()
        else updatedLocal
      val t0dbg = System.nanoTime()
      val changes = updated.filter(col("cluster") =!= col("prev")).count()
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"CC_ITER $iter changes=$changes ${(System.nanoTime() - t0dbg) / 1e9}%.2f s")
      labels = updated.drop("prev")
      converged = changes == 0
      iter += 1
    }
    // best-effort: drops the catalog entry; the checkpoint's RDD-level
    // persist is reclaimed by ContextCleaner once unreachable (and the
    // bench harness sweeps sc.getPersistentRDDs after every query, so
    // a long-lived session never accumulates them)
    edges.unpersist()
    labels
  }

  /** Full corpus dedup: exact groups collapse first (cheap hash agg on
    * a fingerprint), then banded-MinHash near-dup pairs cluster via
    * connected components; one survivor (min id) per cluster.
    * Returns the deduplicated corpus. */
  def deduplicate(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleSize: Int = 3,
      maxJaccardDist: Double = 0.3): DataFrame = {
    ensureCheckpointDir(docs.sparkSession.sparkContext)
    // cache: the exact-collapsed corpus feeds BOTH the MinHash funnel
    // and the final left_anti survivor join — uncached, the windowed
    // exact-dedup shuffle would run twice end to end. This cache is
    // deliberately RETAINED past the call: the returned survivor frame
    // is corpus-sized (cannot be materialized locally) and still
    // references it lazily — unpersisting here would just force the
    // recompute the cache exists to avoid. Long-lived sessions release
    // it via catalog.clearCache() or by unpersisting after the
    // survivors are written out.
    val exact = dropExact(docs, textCol, idCol).cache()
    val pairs = minhashPairs(exact, idCol, textCol,
      shingleSize = shingleSize, maxJaccardDist = maxJaccardDist)
    val clusters = connectedComponents(pairs)
    val losers = clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as("__loser"))
    exact.join(losers, exact(idCol) === losers("__loser"), "left_anti")
  }

  /** Connected components prefers RELIABLE checkpoints, but only when
    * a checkpoint dir is configured — otherwise production silently
    * gets the non-fault-tolerant localCheckpoint path. In local mode
    * a temp dir is a correct default (one machine, one filesystem);
    * on a real cluster the dir must be SHARED storage (HDFS/object
    * store), which the engine cannot guess — warn loudly instead. */
  private[ops] def ensureCheckpointDir(sc: org.apache.spark.SparkContext): Unit = {
    if (sc.getCheckpointDir.isEmpty) {
      if (sc.isLocal) {
        // note: setCheckpointDir is CONTEXT-global — this default only
        // fires when nothing else configured one. The temp dir is
        // removed on JVM exit (checkpoint files are not auto-cleaned
        // by Spark; without the hook every short-lived local job
        // would leave its checkpoint data behind).
        val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
        sc.setCheckpointDir(dir.toString)
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          rm(dir.toFile)
        }))
      } else {
        org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup").warn(
          "graft.Dedup: no spark checkpoint dir configured — " +
            "connected components will fall back to localCheckpoint, which " +
            "is NOT fault-tolerant. Set sc.setCheckpointDir to shared storage.")
      }
    }
  }

  /** [[deduplicate]] with QUALITY-AWARE survivor selection: each
    * near-dup cluster keeps its best-scoring member instead of the
    * min id — the production curation shape ("of N copies of this
    * article, keep the cleanest one"), where min-id survivorship
    * throws away the signal a quality model already computed.
    * `score` is any integer column expression over `docs`' columns
    * (e.g. [[Classifier.hashedLinearScore]]); ties break to the
    * SMALLEST id so the choice is total and replayable.
    *
    * The score is evaluated on EVERY original row before any
    * collapse: exact twins are first reduced to their (max score,
    * min id) member — scores that depend on non-text columns (a
    * stored quality column, crawl metadata) keep their best copy —
    * and near-dup clusters then arg-max over those representatives,
    * which is exactly the (max score, min id) member of the full
    * cluster. For a score that is a pure function of `textCol`,
    * twins tie and this degenerates to [[dropExact]]'s min-id pick.
    *
    * Scale shape: identical to [[deduplicate]] (banded MinHash, never
    * all-pairs; pointer-halving CC) plus ONE cluster-keyed aggregation
    * — `max(struct(score, -id))` is map-side combinable, so no window
    * over corpus-sized partitions and no skew exposure beyond what CC
    * already bounds. Returns the kept corpus with the computed score
    * in a `score` column (replacing any pre-existing column of that
    * name). */
  def deduplicateKeepBest(docs: DataFrame, score: Column,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, maxJaccardDist: Double = 0.3): DataFrame = {
    ensureCheckpointDir(docs.sparkSession.sparkContext)
    // exact-twin collapse by (score DESC, id): same fingerprint-led
    // window as dropExact (8-byte compares, raw key as the collision
    // guard) but the survivor is the best-scoring twin, so a
    // non-text-derived score is never discarded before the cluster
    // argmax. localCheckpoint, NOT cache (r18 verdict watch item):
    // this frame feeds THREE consumers — the MinHash funnel, the
    // cluster-score join and the final survivor anti-join — and a
    // cache evicted under memory pressure mid-query recomputes the
    // full-corpus fingerprint window per consumer (the 2.65 s →
    // 19.12 s q119 swing in the r18 unattended rerun). Checkpoint
    // blocks sit at MEMORY_AND_DISK: under pressure they spill, they
    // don't vanish, and the truncated lineage pins the window to one
    // evaluation.
    val wBest = Window
      .partitionBy(xxhash64(col(textCol)), col(textCol))
      .orderBy(col("__score").desc, col(idCol))
    val exact = docs.withColumn("__score", score)
      .withColumn("__rn", row_number().over(wBest))
      .filter(col("__rn") === 1).drop("__rn")
      .localCheckpoint(true)
    val pairs = minhashPairs(exact, idCol, textCol,
      shingleSize = shingleSize, maxJaccardDist = maxJaccardDist)
    val clusters = connectedComponents(pairs)
    // survivor per cluster = arg max (score, -id): lexicographic
    // struct max ≡ "highest score, ties to smallest id"; one combiner-
    // friendly agg instead of a row_number window
    val surv = clusters
      .join(exact.select(col(idCol).as("id"), col("__score")), "id")
      .groupBy(col("cluster"))
      .agg(max(struct(col("__score").as("s"), (-col("id")).as("nid")))
        .as("__best"))
      .select(col("cluster"), (-col("__best")("nid")).as("__surv"))
    val losers = clusters.join(surv, "cluster")
      .filter(col("id") =!= col("__surv"))
      .select(col("id").as("__loser"))
    exact.join(losers, exact(idCol) === losers("__loser"), "left_anti")
      .drop("score").withColumnRenamed("__score", "score")
  }

  /** [[deduplicate]] with MULTIPLICITY: survivors carry
    * `n_copies` — how many original documents (exact twins + near-dup
    * cluster members) they represent. The "soft dedup" shape: instead
    * of silently discarding duplication, training reweights by it
    * (count-aware sampling, or simply auditing how much mass dedup
    * removed per survivor). Exact groups aggregate (text-keyed count),
    * near-dup clusters sum their members' exact counts; the survivor
    * is the cluster-min id exactly as [[deduplicate]] picks it, so
    * survivors here ≡ q55's survivors with one extra column.
    *
    * Scale shape: one text-keyed count agg (map-side combinable, the
    * q16 shape), the banded funnel, and a cluster-keyed sum — no new
    * shuffle classes over [[deduplicate]]. */
  def deduplicateWithMultiplicity(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleSize: Int = 3,
      maxJaccardDist: Double = 0.3): DataFrame = {
    ensureCheckpointDir(docs.sparkSession.sparkContext)
    // group on the fingerprint first, raw text second — the dropExact
    // rationale (long compares, not document compares) applied to an
    // aggregation instead of a window
    val groups = docs
      .groupBy(xxhash64(col(textCol)).as("__fp"), col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("__exact_n"))
      .select(col(idCol), col("__exact_n"))
    // cache: representative rows feed the funnel, the cluster-sum join
    // and the survivor anti-join (deduplicate's `exact` contract)
    val reps = docs.join(groups, Seq(idCol)).cache()
    val pairs = minhashPairs(reps, idCol, textCol,
      shingleSize = shingleSize, maxJaccardDist = maxJaccardDist)
    val clusters = connectedComponents(pairs)
    val clusterTotals = clusters
      .join(reps.select(col(idCol).as("id"), col("__exact_n")), "id")
      .groupBy(col("cluster")).agg(sum(col("__exact_n")).as("__n_copies"))
    val losers = clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as("__loser"))
    val kept = reps.join(losers, reps(idCol) === col("__loser"), "left_anti")
    // a survivor's id IS its cluster label (CC labels components by
    // their min id), so the totals attach by id = cluster
    kept.join(clusterTotals, kept(idCol) === clusterTotals("cluster"), "left")
      .withColumn("n_copies",
        coalesce(col("__n_copies"), col("__exact_n")))
      .drop("cluster", "__n_copies", "__exact_n")
  }

  /** Dedup PROVENANCE map: one row per DROPPED document naming the
    * survivor it was collapsed into and how — the `(dropped_id,
    * kept_id, jaccard_dist, via)` table an incident review joins
    * against when a shipped corpus is questioned ("where did doc X
    * go, and on what evidence?"). `via` ∈ {`exact`: byte-identical
    * twin of the min-id rep (dist 0.0); `direct`: a verified MinHash
    * pair connects the loser straight to its cluster survivor, dist =
    * that pair's exact Jaccard; `transitive`: connected only through
    * a chain — dist NULL, because no single pairwise measurement
    * backs the collapse (precisely the cases a human reviews first)}.
    *
    * Scale shape: the exact layer is one fingerprint-led window; the
    * near-dup layer reuses the banded funnel + CC; the dist
    * attachment is a left join of the (small) loser set against the
    * verified-pair frame on (cluster, loser) — survivors are
    * component-min ids, so the canonical (doc_a < doc_b) pair
    * orientation always has the survivor on the a-side. */
  def dupProvenance(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleSize: Int = 3,
      maxJaccardDist: Double = 0.3): DataFrame = {
    ensureCheckpointDir(docs.sparkSession.sparkContext)
    val wRep = Window.partitionBy(xxhash64(col(textCol)), col(textCol))
    val withRep = docs.select(col(idCol),
      min(col(idCol)).over(wRep).as("__rep"))
    val exactRows = withRep.filter(col(idCol) =!= col("__rep"))
      .select(col(idCol).as("dropped_id"), col("__rep").as("kept_id"),
        lit(0.0).as("jaccard_dist"), lit("exact").as("via"))
    val exact = dropExact(docs, textCol, idCol).cache()
    // eager localCheckpoint (round 21): the verified-pair frame feeds
    // TWO consumers — connectedComponents and the dist-attachment left
    // join below — and without materialization the second consumer
    // re-ran the whole band-join + verify funnel (the
    // deduplicateKeepBest three-consumer argument; checkpoint, not
    // cache, for the same eviction reason)
    val pairs = minhashPairs(exact, idCol, textCol,
      shingleSize = shingleSize, maxJaccardDist = maxJaccardDist)
      .localCheckpoint(true)
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("cluster"))
    val nearRows = losers
      .join(pairs,
        pairs("doc_a") === losers("cluster") && pairs("doc_b") === losers("id"),
        "left")
      .select(col("id").as("dropped_id"), col("cluster").as("kept_id"),
        col("jaccard_dist"),
        when(col("jaccard_dist").isNull, lit("transitive"))
          .otherwise(lit("direct")).as("via"))
    exactRows.unionByName(nearRows)
  }

  /** Split-leakage REPAIR — the fix q111's audit motivates: near-dup
    * clusters that span train/val/test are moved ENTIRELY to train,
    * so no eval document has a near-duplicate in training data.
    * Moving the whole cluster (rather than individual pair sides) is
    * the only stable rule: a pairwise move can create new cross-split
    * pairs transitively, while the cluster verdict is a pure function
    * of the component — deterministic, order-independent, replayable.
    * Docs in no cluster keep their hash split ([[Splits.assignSplit]]).
    * Returns (id, orig_split, final_split, moved).
    *
    * Scale shape: the banded pair funnel + CC (never all-pairs), one
    * cluster-keyed distinct-split count, one cluster-keyed join back
    * — same exchange classes as [[deduplicate]]. */
  def repairSplitLeakage(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleSize: Int = 3,
      maxJaccardDist: Double = 0.4,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    ensureCheckpointDir(docs.sparkSession.sparkContext)
    val pairs = minhashPairs(docs, idCol, textCol,
      shingleSize = shingleSize, maxJaccardDist = maxJaccardDist)
    val clusters = connectedComponents(pairs)
    val orig = docs.select(col(idCol),
      Splits.assignSplit(col(idCol), trainPct, valPct).as("orig_split"))
    val withCluster = orig.join(
      clusters.select(col("id").as(idCol), col("cluster")), Seq(idCol), "left")
    val spanning = withCluster.filter(col("cluster").isNotNull)
      .groupBy(col("cluster"))
      .agg(countDistinct(col("orig_split")).as("__ns"))
    withCluster.join(spanning, Seq("cluster"), "left")
      .select(col(idCol), col("orig_split"),
        when(col("__ns") > 1, lit("train")).otherwise(col("orig_split"))
          .as("final_split"))
      .withColumn("moved", col("final_split") =!= col("orig_split"))
  }

  // ----------------------------------------------- decontamination
  /** Benchmark decontamination scores: for every corpus document, the
    * number of distinct word n-grams it shares with ANY document of a
    * reference (eval/benchmark) set.
    *
    * Scale shape: the reference set is small by nature (benchmarks),
    * so its distinct n-gram hashes BROADCAST; the corpus streams
    * through one broadcast hash join of 8-byte gram hashes plus one
    * per-doc count — the corpus text itself never shuffles. Grams are
    * compared via xxhash64 (set sizes are hash-invariant modulo
    * ~1e-10 collisions, same argument as [[minhashPairs]]). */
  def contaminationScores(corpus: DataFrame, ref: DataFrame,
      shingleSize: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def gramHashes(df: DataFrame) = df
      .select(col(idCol), TextStats.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= shingleSize)
      .select(col(idCol),
        explode(transform(wordNgrams(col("__toks"), shingleSize),
          g => xxhash64(g))).as("__g"))
    val refGrams = gramHashes(ref).select("__g").distinct()
    gramHashes(corpus)
      .join(broadcast(refGrams), "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** [[contaminationScores]] with a Bloom prefilter between the corpus
    * scan and the exact join — same exact result, different scale
    * regime. [[contaminationScores]] broadcasts the reference grams as
    * an exact hash set, which stops working when the reference side is
    * itself large (a billion held-out grams is ~16 GB of longs — too
    * big to broadcast, and shuffling every corpus gram against it is
    * the cost being avoided). Here the reference grams fold into a
    * fixed-size bit array ([[BloomAgg]], ~10 bits/gram), that bloom
    * broadcasts at any reference size, and only the corpus grams it
    * passes — true matches plus the bloom's false-positive rate —
    * reach the shuffle equi-join that makes the count exact. "No" from
    * the bloom is certain, so no shared gram is ever lost; "maybe"
    * rows are re-checked exactly, so false positives can't inflate the
    * count.
    *
    * The bloom is built distributed (one bitset partial per task, OR'd
    * in the exchange), materialized to the driver as ONE blob of
    * `numBits/8` bytes, and embedded as a plan literal — the same
    * inject-after-build shape as Spark's own runtime bloom join
    * filters. It must NOT ride along as a joined column instead: every
    * `getBinary` on an UnsafeRow-backed column copies the full bitset,
    * so a cross-joined bloom costs corpusGrams × numBits/8 bytes of
    * memcpy (measured 6× the entire query's runtime), while a literal
    * is one reference for the whole scan. */
  def bloomContaminationScores(corpus: DataFrame, ref: DataFrame,
      shingleSize: Int = 3, idCol: String = "doc_id",
      textCol: String = "text", numBits: Int = 1 << 22,
      numHashes: Int = 5): DataFrame = {
    def gramHashes(df: DataFrame) = df
      .select(col(idCol), TextStats.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= shingleSize)
      .select(col(idCol),
        explode(transform(wordNgrams(col("__toks"), shingleSize),
          g => xxhash64(g))).as("__g"))
    // materialize ref grams once: the bloom build and the verify join
    // both consume them, and recomputing tokenize+ngram+distinct for
    // the second job doubles the (admittedly small-side) ref cost.
    // localCheckpoint, not cache: blocks are reclaimed by the
    // ContextCleaner when this frame goes out of scope — no storage
    // entry outlives the query (the leak ADVICE flagged on the
    // similarity caches)
    val refGrams = gramHashes(ref).select("__g").distinct()
      .localCheckpoint(true)
    val blob = refGrams
      .agg(BloomFns.bloomAgg(col("__g"), numBits, numHashes))
      .head.getAs[Array[Byte]](0)
    gramHashes(corpus)
      .filter(BloomFns.bloomContains(lit(blob), col("__g")))
      .join(refGrams, "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Span-level decontamination scores: the contiguous-run structure
    * of each corpus document's token n-grams that also appear in the
    * reference (benchmark) set — the GPT-3-style "13-gram overlap"
    * rule at SPAN granularity, where [[contaminationScores]] only
    * counts distinct shared grams. A run of k consecutive matched
    * n-grams is a verbatim leaked span of k+n−1 tokens, so
    * `max_span_tokens` is what a "drop docs leaking ≥50 contiguous
    * benchmark tokens" policy filters on. Returns one row per
    * contaminated document:
    * (id, n_matched_grams, n_runs, max_run_grams, max_span_tokens).
    *
    * Scale shape: corpus-side gram rows are (id, pos, hash64) — three
    * longs regardless of document size; a bloom built from the
    * reference grams is embedded as a plan literal (same
    * inject-after-build shape as [[bloomContaminationScores]]) and
    * prefilters the corpus stream BEFORE the exact equi-join, so join
    * input tracks true matches + the bloom's false-positive rate, not
    * corpus size. The islands window partitions by document over
    * MATCHED positions only — bounded by tokens-per-document, never
    * corpus-sized. Gram matching compares xxhash64 of the gram text
    * (the established ~1e-10 collision tradeoff documented at
    * [[hashedShingles]]). */
  def spanContaminationScores(corpus: DataFrame, ref: DataFrame,
      shingleSize: Int = 13, idCol: String = "doc_id",
      textCol: String = "text", numBits: Int = 1 << 22,
      numHashes: Int = 5): DataFrame = {
    require(shingleSize >= 1)
    val refGrams = posGramHashes(ref, shingleSize, idCol, textCol)
      .select("__g").distinct()
      .localCheckpoint(true)
    val blob = refGrams
      .agg(BloomFns.bloomAgg(col("__g"), numBits, numHashes))
      .head.getAs[Array[Byte]](0)
    val matched = posGramHashes(corpus, shingleSize, idCol, textCol)
      .filter(BloomFns.bloomContains(lit(blob), col("__g")))
      .join(refGrams, "__g")
      .select(col(idCol), col("pos")).distinct()
    // gaps-and-islands: consecutive matched positions share
    // pos − row_number(), so one groupBy per (doc, island) yields run
    // lengths without any self-join
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    matched
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col(idCol))
      .agg(sum(col("__run")).cast(LongType).as("n_matched_grams"),
        count(lit(1)).as("n_runs"),
        max(col("__run")).as("max_run_grams"))
      .withColumn("max_span_tokens",
        col("max_run_grams") + lit(shingleSize - 1L))
  }

  /** (id, pos, gram-hash) positional n-grams WITH duplicates — unlike
    * wordNgrams, which dedups (sets are what Jaccard wants; runs and
    * coverage are positional). Shared by [[spanContaminationScores]]
    * and [[duplicatedSpanFraction]]. */
  private def posGramHashes(df: DataFrame, shingleSize: Int,
      idCol: String, textCol: String): DataFrame = df
    .select(col(idCol), TextStats.tokens(col(textCol)).as("__toks"))
    .filter(size(col("__toks")) >= shingleSize)
    .select(col(idCol), posexplode(
      transform(sequence(lit(0), size(col("__toks")) - shingleSize),
        i => xxhash64(concat_ws(" ",
          (0 until shingleSize).map(j =>
            element_at(col("__toks"), i + j + 1)): _*)))))
    .select(col(idCol), col("pos"), col("col").as("__g"))

  /** Cross-source duplication matrix: the pairwise view of "which
    * feeds copy which" — [[minhashPairs]] near-dups joined to each
    * side's source and rolled up per canonical (src_lo ≤ src_hi)
    * source pair with the pair count and the closest distance.
    * Diagonal rows (src_lo = src_hi) measure within-feed duplication;
    * off-diagonal rows are the mirror/syndication signal a curation
    * pipeline uses to pick ONE feed of a syndicated pair before
    * paying full dedup on the union. Complements the per-source q92
    * audit (counts per feed) with the BETWEEN-feed structure.
    *
    * Scale shape: inherits [[minhashPairs]]'s banding (3-long band
    * rows, hot buckets star-capped); the source attach is two
    * id-keyed joins sized by emitted PAIRS, not the corpus; the final
    * rollup is a #sources²-bounded aggregate.
    *
    * Count semantics: `n_pairs` is a LOWER BOUND on the true near-dup
    * pair count, for two inherited reasons — banded MinHash recall
    * (< 1 for pairs near the distance cutoff; recall-1 only for the
    * near-identical pairs banding is tuned for) and the clique-to-star
    * skew cap, which replaces a hot bucket's O(n²) pairs with n−1
    * star edges. On boilerplate-heavy feeds (exactly where hot buckets
    * form) per-cell counts therefore understate the duplication mass;
    * `closest_dist` is unaffected (the star always touches the
    * bucket's min-id row). The sf-scale oracle is exact all-pairs and
    * agrees only while every test pair sits well inside the recall-1
    * regime and no star-cap fires — the documented tradeoff, not an
    * equivalence claim at every data distribution. */
  def crossSourceDupMatrix(docs: DataFrame, shingleSize: Int = 3,
      bands: Int = 10, rowsPerBand: Int = 5, maxJaccardDist: Double = 0.4,
      idCol: String = "doc_id", textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val pairs = minhashPairs(docs, idCol, textCol, shingleSize,
      bands, rowsPerBand, maxJaccardDist)
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("doc_a"), col(sourceCol).as("__sa")), "doc_a")
      .join(src.select(col(idCol).as("doc_b"), col(sourceCol).as("__sb")), "doc_b")
      .select(least(col("__sa"), col("__sb")).as("src_lo"),
        greatest(col("__sa"), col("__sb")).as("src_hi"),
        col("jaccard_dist"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard_dist")).as("closest_dist"))
  }

  /** Span-level contamination EXCISION: where [[spanContaminationScores]]
    * scores the leaked spans and [[decontaminate]] drops whole
    * documents, this removes exactly the leaked tokens and keeps the
    * rest — the surgical middle ground a curation pipeline wants when
    * a 50-token benchmark quote sits inside an otherwise-valuable
    * document. Every token position covered by any matched
    * `shingleSize`-gram is excised; the survivors are reassembled in
    * order. Returns one row per corpus document:
    * (id, n_tokens, removed_tokens, clean_text) — clean_text rebuilt
    * with single spaces (the established `\s+` normalization).
    *
    * Scale shape: matching is [[spanContaminationScores]]'s bloom
    * prefilter + exact gram join (corpus-side rows are three longs,
    * join input tracks true matches + bloom FP rate); coverage
    * expansion is ≤ shingleSize rows per matched gram, bounded by
    * tokens-per-document after the distinct; excision is one
    * (id, pos)-keyed anti-join over posexploded tokens — linear in
    * corpus tokens, hash-partitioned, with reassembly per document
    * (collect_list bounded by document size). */
  def exciseContaminatedSpans(corpus: DataFrame, ref: DataFrame,
      shingleSize: Int = 13, idCol: String = "doc_id",
      textCol: String = "text", numBits: Int = 1 << 22,
      numHashes: Int = 5): DataFrame = {
    require(shingleSize >= 1)
    val refGrams = posGramHashes(ref, shingleSize, idCol, textCol)
      .select("__g").distinct()
      .localCheckpoint(true)
    val blob = refGrams
      .agg(BloomFns.bloomAgg(col("__g"), numBits, numHashes))
      .head.getAs[Array[Byte]](0)
    val covered = posGramHashes(corpus, shingleSize, idCol, textCol)
      .filter(BloomFns.bloomContains(lit(blob), col("__g")))
      .join(refGrams, "__g")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(shingleSize - 1)))
          .as("__tpos"))
      .distinct()
    exciseTokenPositions(corpus, covered, idCol, textCol)
  }

  /** Cut the token positions listed in `covered` (idCol, __tpos) out
    * of every corpus document and reassemble the remainder in order —
    * the shared excision tail of [[exciseContaminatedSpans]] and
    * [[exciseDuplicatedSpans]]. Reassembly groups per document, so
    * partition width is bounded by tokens-per-document, never corpus
    * size. Returns (id, n_tokens, removed_tokens, clean_text). */
  private def exciseTokenPositions(corpus: DataFrame, covered: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val toks = corpus
      .select(col(idCol), posexplode(TextStats.tokens(col(textCol)))
        .as(Seq("__tpos", "__tok")))
    val kept = toks.join(covered, Seq(idCol, "__tpos"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("__tpos"), col("__tok")))),
        e => e("__tok"))).as("clean_text"),
        count(lit(1)).as("__n_kept"))
    corpus.select(col(idCol), TextStats.tokenCount(col(textCol)).as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
          .as("removed_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Corpus-INTERNAL duplicated-span EXCISION — the removal
    * counterpart of [[duplicatedSpanFraction]] (the Lee et al.
    * "deduplicate the repeated substrings themselves" pass, at n-gram
    * resolution): every occurrence of a `shingleSize`-gram EXCEPT the
    * corpus-wide FIRST (smallest (doc_id, pos)) marks its token span
    * for removal; covered positions are cut and the rest reassembled
    * in order. Keep-first means the earliest copy retains its text
    * intact while later copies lose exactly the repeated spans —
    * unlike [[Chunking.removeFrequentChunks]], whose frequency
    * threshold drops ALL occurrences including the first, and unlike
    * q16/q55 whole-document dedup, this trims duplication INSIDE
    * documents that survive.
    *
    * Scale shape: gram rows are three longs; the first-occurrence +
    * occurrence-count pass is ONE hash-partitioned aggregation with
    * map-side combine (`min(struct(id, pos))` — no per-gram window,
    * so a boilerplate gram occurring millions of times costs one
    * combiner chain, not a million-row sort partition); the
    * membership join back to positions is gram-keyed and only
    * duplicated grams (the hot set) flow through it. Excision and
    * reassembly are per-document. */
  def exciseDuplicatedSpans(docs: DataFrame, shingleSize: Int = 13,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(shingleSize >= 1)
    val grams = posGramHashes(docs, shingleSize, idCol, textCol)
    val firsts = grams.groupBy(col("__g"))
      .agg(min(struct(col(idCol).as("id"), col("pos").as("p"))).as("__first"),
        count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2)
      .select(col("__g"), col("__first"))
    val covered = grams.join(firsts, "__g")
      .filter(struct(col(idCol).as("id"), col("pos").as("p")) =!= col("__first"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(shingleSize - 1)))
          .as("__tpos"))
      .distinct()
    exciseTokenPositions(docs, covered, idCol, textCol)
  }

  /** Corpus-INTERNAL duplicated-text measurement (the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better"
    * substring metric at n-gram resolution): for every document, the
    * fraction of its token positions covered by at least one
    * `shingleSize`-gram that occurs ≥ `minOccurrences` times in the
    * whole corpus (within-document repeats count — a doc that repeats
    * its own boilerplate is duplicated text too). Where q16/q31/q55
    * decide per-DOCUMENT keep/drop, this scores the repeated-substring
    * structure INSIDE kept documents — the signal a "trim boilerplate
    * before training" pass thresholds on. Returns one row per document
    * (docs shorter than one shingle score zero):
    * (id, n_tokens, dup_tokens, n_dup_spans, dup_fraction).
    *
    * Scale shape: gram rows are three longs; the occurrence count is
    * one hash-partitioned groupBy with map-side combine (never
    * doc-sized partitions); the membership join back to positions is
    * gram-keyed. Interval union runs per document over MATCHED
    * positions only — a prefix-max window bounded by
    * tokens-per-document. dup_fraction is one IEEE double division
    * dup_tokens/n_tokens, exactly replayable. */
  def duplicatedSpanFraction(docs: DataFrame, shingleSize: Int = 13,
      minOccurrences: Long = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(shingleSize >= 1 && minOccurrences >= 2)
    val grams = posGramHashes(docs, shingleSize, idCol, textCol)
    val hot = grams.groupBy("__g")
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= minOccurrences)
      .select("__g")
    // each matched position covers tokens [pos, pos+n−1]; union the
    // intervals per doc: an island breaks where pos exceeds the
    // prefix-max of previous interval ends + 1
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("__end")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = grams.join(hot, "__g")
      .select(col(idCol), col("pos")).distinct()
      .withColumn("__end", col("pos") + lit(shingleSize - 1))
      .withColumn("__newIsland",
        when(col("pos") > coalesce(prevEnd, lit(Long.MinValue)) + 1, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__newIsland")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__island"))
      .agg((max(col("__end")) - min(col("pos")) + 1).as("__covered"))
      .groupBy(col(idCol))
      .agg(sum(col("__covered")).cast(LongType).as("dup_tokens"),
        count(lit(1)).as("n_dup_spans"))
    docs.select(col(idCol), TextStats.tokenCount(col(textCol)).as("n_tokens"))
      .join(islands, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_fraction",
        col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
  }

  /** Drop corpus documents sharing at least `minOverlap` distinct
    * n-grams with the reference set (the C4/Pile-style "remove
    * training docs that leak the benchmark" step). */
  def decontaminate(corpus: DataFrame, ref: DataFrame,
      shingleSize: Int = 3, minOverlap: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val bad = contaminationScores(corpus, ref, shingleSize, idCol, textCol)
      .filter(col("n_shared_grams") >= minOverlap)
      .select(col(idCol).as("__bad_id"))
    corpus.join(bad, corpus(idCol) === col("__bad_id"), "left_anti")
  }

  // ------------------------------------------------- embedding cosine
  /** Nearest same-label neighbor per vector by cosine (block join +
    * windowed argmax). At scale, replace the block join with
    * [[Similarity.fitLsh]] buckets. */
  def nearestSameLabel(embeddings: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", blockCol: String = "label"): DataFrame = {
    // Precompute each row's L2 norm once: the block join then costs a
    // single dot product per pair instead of three array folds.
    val normed = embeddings.select(col(idCol), col(blockCol), col(vecCol),
      Similarity.l2Norm(col(vecCol)).as("nrm"))
    val a = normed.alias("a")
    val b = normed.alias("b")
    val cos = Similarity.dot(col(s"a.$vecCol"), col(s"b.$vecCol")) /
      (col("a.nrm") * col("b.nrm"))
    val w = Window.partitionBy(col("vec_id_a"))
      .orderBy(col("cos").desc, col("vec_id_b"))
    a.join(b,
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("vec_id_a"), col(s"b.$idCol").as("vec_id_b"),
        cos.as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id_a").as("vec_id"), col("vec_id_b").as("nn_id"))
  }

  // ------------------------------------------------- edit distance
  /** EDIT-DISTANCE near-dup pairs: all document pairs with Levenshtein
    * distance ≤ `maxDist`, verified EXACTLY — the character-level
    * complement of the token-set detectors (MinHash sees bags of
    * shingles; edit distance sees insertions/deletions/substitutions
    * in order, which is what catches templated rewrites and OCR-grade
    * corruption that preserve most grams but not token sets, and is
    * the classic contract for short fields like titles).
    *
    * Blocking is by LENGTH BUCKET of width `maxDist + 1`: since
    * lev(a,b) ≥ |len(a) − len(b)|, every qualifying pair sits in the
    * same or adjacent buckets — the left side expands to its three
    * neighbor buckets, the right side keeps its one, so each pair is
    * examined EXACTLY once and recall is 1 by the length lower bound
    * (no probabilistic candidate step to replay). The verify uses
    * Spark's thresholded `levenshtein(l, r, maxDist)` — banded
    * O(len·maxDist) DP instead of full O(len²), returning −1 above
    * the threshold.
    *
    * Shape at scale: the bucket join shuffles on a derived integer
    * key with ~uniform occupancy for natural length distributions
    * (bucket width is the tolerance, not a corpus statistic); cost is
    * Σ_b |b|·|b±1| CANDIDATES — quadratic only within a length band.
    * Between the length filter and the DP sits the COUNTING FILTER
    * (Jokinen–Ukkonen '91): every edit operation moves the character
    * histogram by at most 2 in L1 (substitution touches two counts,
    * insert/delete one), so lev ≥ ⌈L1/2⌉ and a pair with
    * L1 > 2·maxDist is rejected for ~40 integer ops instead of an
    * O(len·maxDist) DP. The histogram is over a fixed 37-char
    * alphabet; unseen characters make it a projection, which only
    * LOWERS L1, so the bound — and recall 1 — survives any input
    * (anagrams have L1 = 0 and always reach the DP; the spec pins
    * that). The filter's power tracks τ: measured at sf0.1 (5000
    * docs), τ=40 kept 58 % of same-band candidates (L1 ≤ 80 is loose
    * on character-homogeneous text; 196.6 s → 130.9 s only), while
    * the battery's genuine near-dup tolerance τ=10 rejects nearly
    * everything (196.6 s → 11.4 s end-to-end with the band width
    * shrinking 41 → 11 at the same time).
    *
    * SKEWED BANDS (billions of same-length docs — fixed-width
    * records, templated text) call for a SECOND blocking key composed
    * the same way, enabled via `classKey = Some(chars)`: the key is
    * the COUNT of characters belonging to the class, bucketed at the
    * same width with the same ±1 left-side expansion. The recall-1
    * argument extends verbatim because the class count is
    * Lipschitz-1 under edit operations — a substitution moves any
    * single class's count by at most 1 (it can remove a member and
    * add a non-member, or vice versa), an insert/delete by exactly
    * 0 or 1 — so lev(a,b) ≤ maxDist ⇒ |Δcount| ≤ maxDist ⇒ same or
    * adjacent class bucket (Round16OpsSpec proves composed ≡ plain
    * on boundary-straddling pairs). Note what would NOT work: the
    * first codepoint itself (or its class) is not edit-Lipschitz —
    * one edit at position 0 replaces it arbitrarily, so blocking on
    * it drops qualifying pairs. Each pair is still examined exactly
    * once (the 3×3 neighbor-combo explosion meets the right side's
    * unique (len-bucket, class-bucket) cell). Within a band the
    * candidate set falls from |b|² to Σ_c |b∩c|² — the same
    * subdivision the length bucket buys, applied to a content axis
    * that replication/templating does not collapse.
    *
    * Returns (doc_a, doc_b, len_a, len_b, dist), doc_a < doc_b,
    * ordered by (doc_a, doc_b). */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 40,
      idCol: String = "doc_id", textCol: String = "text",
      classKey: Option[String] = None): DataFrame = {
    require(maxDist >= 1)
    require(classKey.forall(_.nonEmpty))
    val w = maxDist + 1
    // counting-filter histogram: counts of each alphabet char, as
    // length deltas under single-char erasure (37 map-only replaces)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "
    def hist(tx: Column): Column = array(alphabet.map(c =>
      (length(tx) - length(regexp_replace(tx,
        java.util.regex.Pattern.quote(c.toString), ""))).cast("int")): _*)
    // second blocking key: class-count bucket (0 when disabled — a
    // single degenerate bucket, so the composed join key reduces to
    // the plain length bucket and the plans coincide)
    def classBucket(tx: Column): Column = classKey match {
      case None => lit(0L)
      case Some(chars) =>
        val cls = "[" + java.util.regex.Pattern.quote(chars) + "]"
        // integer floor division (counts are nonnegative ints, exact)
        floor((length(tx) - length(regexp_replace(tx, cls, "")))
          .cast(LongType) / lit(w)).cast(LongType)
    }
    val d = docs.select(col(idCol).as("__id"), col(textCol).as("__tx"),
      length(col(textCol)).cast(LongType).as("__len"),
      expr(s"length($textCol) div $w").as("__b"),
      classBucket(col(textCol)).as("__b2"),
      hist(col(textCol)).as("__h"))
    val expand2: Column => Column = c =>
      if (classKey.isEmpty) array(c) else array(c - 1, c, c + 1)
    val left = d.select(col("__id"), col("__tx"), col("__len"), col("__h"),
      explode(array(col("__b") - 1, col("__b"), col("__b") + 1)).as("__jb"),
      col("__b2"))
      .select(col("__id"), col("__tx"), col("__len"), col("__h"), col("__jb"),
        explode(expand2(col("__b2"))).as("__jb2"))
    val right = d.select(col("__id").as("__idb"), col("__tx").as("__txb"),
      col("__len").as("__lenb"), col("__b").as("__bb"),
      col("__b2").as("__bb2"), col("__h").as("__hb"))
    left.join(right, col("__jb") === col("__bb") &&
        col("__jb2") === col("__bb2") && col("__id") < col("__idb"))
      .filter(abs(col("__len") - col("__lenb")) <= maxDist)
      // lev >= ceil(L1/2): reject on the histogram before the DP.
      // Codegen'd zero-allocation kernel — the HOF spelling
      // (aggregate ∘ zip_with ∘ abs) allocates a boxed 37-element
      // delta array per candidate PAIR once projection collapse
      // inlines it into the band join (round-15 ADVICE; the q167
      // QuantSqDistExpr trap, same fix).
      .filter(graft.engine.Columns.ofExpr(IntL1Expr(
        graft.engine.Columns.exprOf(col("__h")),
        graft.engine.Columns.exprOf(col("__hb")))) <= lit(2L * maxDist))
      .withColumn("dist", levenshtein(col("__tx"), col("__txb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("__id").as("doc_a"), col("__idb").as("doc_b"),
        col("__len").as("len_a"), col("__lenb").as("len_b"),
        col("dist").cast(LongType).as("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
