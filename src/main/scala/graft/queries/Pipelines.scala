package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.ml.{Recommender, Vectorize}
import graft.ops.{Dedup, Similarity}
import graft.text.TextPrep

/** Non-SQL-expressible pipelines (TF-IDF + LSH, MinHash, SimHash,
  * vector ANN). No DuckDB oracle — the driver records a rows-only
  * check; semantics are covered by ScalaTest metamorphic/golden specs
  * (seeded determinism, self-neighbor-at-distance-0, duplicate-pair
  * properties).
  */
object Pipelines {

  /** documents → tags → clean/lemmatize → TF-IDF → L2 norm → seeded
    * LSH model + vectors: the reference's transform stage re-targeted
    * at the harness corpus. */
  def docVectors(s: SparkSession, dir: String): (DataFrame, org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel) = {
    val docs = Tables.documents(s, dir)
      .withColumn("tags", split(col("text"), "\\s+"))
      .withColumnRenamed("doc_id", "id")
    val prepped = TextPrep.prepare(s, docs)
    val (_, vectorized0) = Vectorize(prepped)
    // LSH fit + the point lookup + the ANN query all re-scan this
    val vectorized = vectorized0.cache()
    val model = Recommender.fit(vectorized)
    (vectorized, model)
  }

  // ---------------------------------------------------------------- q30
  /** Flagship: TF-IDF + LSH nearest neighbors of document 0
    * (reference `get_recommendations`, SURVEY.md §3.2). */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val (vectors, model) = docVectors(s, dir)
    Recommender.neighbors(model, vectors, "id", 0L, 10)
      .select(col("id").as("doc_id"), col("distance"))
      .orderBy("distance", "doc_id")
  }

  // ---------------------------------------------------------------- q67
  /** The flagship recommendation query on the HashingTF scale path:
    * identical prep + LSH, but the term→index map is a hash instead of
    * a driver-collected CountVectorizer vocabulary — one wide fit
    * (IDF) instead of two, and nothing driver-materialized grows with
    * corpus vocabulary. Rows-only like q30 (MLlib fits); the
    * hashing-vs-vocab geometry agreement is spec-checked in
    * VectorizeSpec. */
  /** q67's vector space, factored out so SelfChecks can re-derive the
    * emitted distances from an identical (deterministic: HashingTF has
    * no fit and IDF is a pure doc-frequency aggregate) re-fit. */
  def docVectorsHashed(s: SparkSession, dir: String): (DataFrame, org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel) = {
    val docs = Tables.documents(s, dir)
      .withColumn("tags", split(col("text"), "\\s+"))
      .withColumnRenamed("doc_id", "id")
    val prepped = TextPrep.prepare(s, docs)
    // Hash space sized by load factor, not a magic default: IDF's fit
    // aggregate and the LSH hyperplanes are DENSE in numFeatures, so
    // size ~100× the expected vocabulary (this corpus: 31 distinct
    // tokens → 2^12; a 100 TB web corpus → 2^20+). Expect this twin to
    // trail q30 at toy scale — the corpus vocabulary is so small that
    // the CountVectorizer path is nearly free here; the hashing path's
    // payoff is the absent driver vocabulary when terms number in the
    // billions (measured: the gap does NOT come from numFeatures — 2^6
    // and 2^16 bench within noise of each other).
    val (_, vectorized0) = Vectorize.hashingTfIdf(prepped, numFeatures = 1 << 12)
    val vectorized = vectorized0.cache()
    val model = Recommender.fit(vectorized)
    (vectorized, model)
  }

  private def q67(s: SparkSession, dir: String): DataFrame = {
    val (vectorized, model) = docVectorsHashed(s, dir)
    Recommender.neighbors(model, vectorized, "id", 0L, 10)
      .select(col("id").as("doc_id"), col("distance"))
      .orderBy("distance", "doc_id")
  }

  // ---------------------------------------------------------------- q31
  /** Banded-MinHash near-dup candidate pairs over trigram shingles.
    * Trigrams (not bigrams) because the corpus vocabulary is tiny:
    * longer shingles keep band-collision rates — and therefore the
    * bucket-join fan-out — proportional to true similarity.
    *
    * Oracle: DuckDB recomputes ALL-pairs exact trigram Jaccard — an
    * independent ground truth. Matching it checks both the verify
    * stage's arithmetic AND that the banding missed nothing: at this
    * corpus's similarity profile the 10×5 banding has recall 1 for
    * dist ≤ 0.4 (near-dup pairs here are ≥ 0.6 similar, where
    * P(candidate) ≈ 1), so candidate-set ⊂ truth degenerations would
    * fail the row-count compare. */
  private def q31(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(s, dir),
      shingleSize = 3, bands = 10, rowsPerBand = 5, maxJaccardDist = 0.4)
      .select("doc_a", "doc_b", "jaccard_dist")
      .orderBy("doc_a", "doc_b")

  private val q31Sql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents
      |),
      |grams AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(len(t) - 2),
      |      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS g
      |  FROM toks WHERE len(t) >= 3
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  1.0 - (CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / (CAST(len(a.g) + len(b.g) AS DOUBLE) - CAST(len(list_intersect(a.g, b.g)) AS DOUBLE))) AS jaccard_dist
      |FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      |WHERE 1.0 - (CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / (CAST(len(a.g) + len(b.g) AS DOUBLE) - CAST(len(list_intersect(a.g, b.g)) AS DOUBLE))) <= 0.4
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q32
  /** SimHash banded candidate pairs with Hamming verify.
    *
    * Oracle: DuckDB re-derives the ENTIRE signature independently —
    * FNV-1a 64-bit per token occurrence in HUGEINT modular arithmetic
    * (the xor only touches the low 16 bits because Scala hashes UTF-16
    * code units, all ≤ 0xFFFF on the BMP), per-bit ±1 votes, the
    * signature as a 64-char bit string, the same 4×16-bit pigeonhole
    * bands, and a character-wise Hamming count. An exact cross-check of
    * the custom codegen expression against a second implementation. */
  private def q32(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashCandidates(Tables.documents(s, dir), maxHamming = 12)
      .orderBy("doc_a", "doc_b")

  private val q32Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents
      |),
      |th AS (
      |  SELECT doc_id,
      |    bin(list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |        list_transform(range(length(tok)), i ->
      |          CAST(unicode(substr(tok, CAST(i+1 AS INTEGER), 1)) AS HUGEINT))),
      |      (h, c) -> ((h - (h % 65536) + xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)))
      |                 * 1099511628211) % 18446744073709551616)) AS bn
      |  FROM toks
      |),
      |bits AS (
      |  SELECT doc_id, bb.b,
      |    SUM(CASE WHEN length(bn) > bb.b
      |         AND substr(bn, CAST(length(bn) - bb.b AS INTEGER), 1) = '1'
      |        THEN 1 ELSE -1 END) AS vote
      |  FROM th, (SELECT unnest(range(64)) AS b) bb
      |  GROUP BY doc_id, bb.b
      |),
      |sigs AS (
      |  SELECT doc_id,
      |    string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY b DESC) AS s
      |  FROM bits GROUP BY doc_id
      |),
      |banded AS (
      |  SELECT doc_id, s, bb.band,
      |    substr(s, CAST(49 - 16*bb.band AS INTEGER), 16) AS key
      |  FROM sigs, (SELECT unnest(range(4)) AS band) bb
      |),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      |)
      |SELECT doc_a, doc_b,
      |  CAST(len(list_filter(range(64), i ->
      |    substr(sa, CAST(i+1 AS INTEGER), 1) <> substr(sb, CAST(i+1 AS INTEGER), 1)))
      |    AS INTEGER) AS hamming
      |FROM cands
      |WHERE len(list_filter(range(64), i ->
      |    substr(sa, CAST(i+1 AS INTEGER), 1) <> substr(sb, CAST(i+1 AS INTEGER), 1))) <= 12
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q33
  /** LSH-bucketed ANN over the embeddings table (scale path of q21). */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    val (emb, model) = Similarity.fitLsh(Tables.embeddings(s, dir))
    Similarity.lshKnn(emb, model, 0L, 10)
  }

  /** SEMI-oracle (see `QueryDef` and `Verify` for the `__GRAFT_OUT__`
    * mechanics): which k neighbors LSH returns is seed/recall-dependent
    * and no SQL engine can re-derive it — but the emitted DISTANCES are
    * exact Euclidean metric values. The oracle reads the ids THIS run
    * emitted and recomputes each distance from the embeddings table
    * with the identical IEEE sequence MLlib's keyDistance uses (widen
    * float→double, d=a−b, acc+=d·d left to right, sqrt) so the driver's
    * hash covers every metric value bit-for-bit. The SQL-expressible
    * SELECTION invariants are encoded fail-closed in the oracle itself
    * (not just asserted in specs): `DISTINCT` + `pid <> 0` shrink the
    * oracle's rows if the engine ever emits a duplicate or the query
    * vector itself, and the `cnt <= 10` guard empties it if k overruns
    * — each surfaces as a driver row-count mismatch. Residual
    * selection (WHICH 10 of the corpus) stays recall-dependent,
    * covered by RowsOnlySanitySpec + Verify's self_checks.json; this
    * mirrors the reference's own validation style (transform/
    * execute.ipynb cells 76-86: judge the returned neighbors, not
    * search internals). */
  private val q33Sql =
    """WITH q AS (
      |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      |  FROM embeddings WHERE vec_id = 0
      |),
      |e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |),
      |p AS (
      |  SELECT DISTINCT vec_id AS pid
      |  FROM read_parquet('__GRAFT_OUT__/q33_ann_lsh/*.parquet')
      |  WHERE vec_id <> 0
      |),
      |g AS (SELECT count(*) AS cnt FROM p)
      |SELECT p.pid AS vec_id,
      |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(range(len(e.v)), i ->
      |      (e.v[CAST(i+1 AS INTEGER)] - q.qv[CAST(i+1 AS INTEGER)])
      |      * (e.v[CAST(i+1 AS INTEGER)] - q.qv[CAST(i+1 AS INTEGER)]))),
      |    (acc, x) -> acc + x)) AS distance
      |FROM p JOIN e ON e.vec_id = p.pid, q, g
      |WHERE g.cnt <= 10
      |ORDER BY distance, vec_id""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Sketch aggregations: HLL++ distinct counts and approximate
    * quantiles — constant memory per group at any scale (the exact
    * versions are q14's countDistinct and a full sort). Rows-only:
    * DuckDB's sketch implementations produce different estimates. */
  private def q35(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_suppkey")).as("approx_supps"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50_price"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000)).as("p95_price"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- q42
  /** IVF ANN with adaptive exact probing: start from the 4 nearest of
    * 16 inverted lists and expand only where the triangle bound says a
    * better neighbor could hide (the partition-pruned scale path of
    * q21). [[Similarity.exactIvfKnn]] equals brute force on ANY input
    * by construction, so the brute-force SQL is a true oracle — the
    * probing machinery is what's under test, not a recall gamble. The
    * fixed-nProbe [[Similarity.ivfKnn]] stays the recall-trading API. */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val qvec = Similarity.probeVector(emb, 0L)
    val (indexed, model) = Similarity.fitIvf(emb, nLists = 16)
    Similarity.exactIvfKnn(indexed, model, qvec, k = 20, nProbe0 = 4)
      .select(col("rank").as("rk"), col("vec_id"))
  }

  // same oracle shape as q21 (ranks + ids; float32 rationale there):
  // exactIvfKnn == bruteForceKnn structurally, so the brute-force SQL
  // is the ground truth for the IVF path too
  // shared with Round11's q97 (stored-index round trip runs the same
  // exact-IVF probe, so the brute-force ground truth is identical)
  private[queries] val q42Sql =
    """SELECT rk, vec_id FROM (
      |  SELECT vec_id, ROW_NUMBER() OVER (
      |    ORDER BY list_cosine_similarity(embedding,
      |      (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id) AS rk
      |  FROM embeddings) t
      |WHERE rk <= 20
      |ORDER BY rk""".stripMargin

  // ---------------------------------------------------------------- q43
  /** LSH near-dup pairs over unit-normalized embeddings (bucket-join
    * scale path of the q22 block join). The corpus has no true dups —
    * max pairwise cosine ≈ 0.51 at sf0.01 — so the threshold sits at
    * cosine ≥ ~0.4 (L2 ≤ 1.1 on unit vectors) to exercise the path. */
  private def q43(s: SparkSession, dir: String): DataFrame =
    // bucketLength 0.5: unit-vector projections are N(0,1), so width-1
    // buckets put ~38% of the corpus in one bucket and the candidate
    // join degenerates toward all-pairs; 0.5 trades a little recall at
    // the (artificially loose) demo threshold for 4x fewer candidates.
    // minCosine 0.395 ≡ the old maxL2Dist=1.1 on unit vectors.
    Similarity.rpNearDupPairs(Tables.embeddings(s, dir), minCosine = 0.395,
      numTables = 4, bucketLength = 0.5)
      .orderBy("vec_a", "vec_b")

  /** SEMI-oracle, same design as q33's: RP-LSH candidate recall < 1 by
    * design, so pair SELECTION has no SQL ground truth — but every
    * emitted cosine is an exact metric. Recompute it for exactly the
    * emitted (vec_a, vec_b) ids with the identical IEEE sequence
    * [[graft.ops.Similarity.rpNearDupPairs]] uses (widen float→double,
    * unitᵢ = xᵢ/√Σxᵢ² accumulated left to right, cosine = Σ uaᵢ·ubᵢ
    * left to right — [[graft.ops.DotExpr]]'s documented order), so the
    * driver's hash covers the metric column bit-for-bit. The
    * SQL-expressible SELECTION invariants are encoded fail-closed in
    * the oracle itself: `DISTINCT` + `vec_a < vec_b` drop duplicate or
    * non-canonical pairs, and the outer `cosine >= 0.395` filter drops
    * any pair the engine emitted below its declared threshold — each
    * surfaces as a driver row-count mismatch rather than a
    * self-fulfilling hash match. Residual selection (recall — which
    * qualifying pairs the RP bucketing finds) is covered by
    * RowsOnlySanitySpec + Verify's self_checks.json. Verified
    * bit-exact against DuckDB 1.0 before declaring. */
  private val q43Sql =
    """WITH u AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      |      sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
      |        (acc, e) -> acc + e))) AS unit
      |  FROM embeddings
      |),
      |p AS (
      |  SELECT DISTINCT vec_a, vec_b
      |  FROM read_parquet('__GRAFT_OUT__/q43_lsh_neardup/*.parquet')
      |  WHERE vec_a < vec_b
      |)
      |SELECT * FROM (
      |  SELECT p.vec_a, p.vec_b,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(range(len(a.unit)), i ->
      |        a.unit[CAST(i+1 AS INTEGER)] * b.unit[CAST(i+1 AS INTEGER)])),
      |      (acc, e) -> acc + e) AS cosine
      |  FROM p JOIN u a ON a.vec_id = p.vec_a JOIN u b ON b.vec_id = p.vec_b
      |) WHERE cosine >= 0.395
      |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Multimodal plumbing end-to-end: pack documents as binary assets,
    * batch-extract (stub) features per partition, emit flattened
    * stats. Oracle: the stub features are a deterministic 16-bin byte
    * histogram, and bin = byte % 16 is exactly the low nibble — i.e.
    * the second hex digit of each byte of `to_hex(encode(text))`, so
    * DuckDB can recompute the features from the same bytes (l1 fold
    * mirrored in bin order via list_reduce). */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Multimodal
    val assets = Multimodal.packAsAssets(Tables.documents(s, dir))
    Multimodal.extractFeatures(s, assets, dim = 16).toDF()
      .select(col("asset_id"), col("width"), col("height"),
        aggregate(col("features"), lit(0.0), (a, x) => a + x).as("feat_l1"),
        array_max(col("features")).as("feat_max"))
      .orderBy("asset_id")
  }

  private val q44Sql =
    """WITH h AS (
      |  SELECT doc_id AS asset_id,
      |         CAST(length(text) % 640 + 32 AS INTEGER) AS width,
      |         CAST(length(text) % 480 + 32 AS INTEGER) AS height,
      |         lower(to_hex(encode(text))) AS hx,
      |         CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents
      |),
      |counts AS (
      |  SELECT asset_id,
      |         strpos('0123456789abcdef', substr(hx, CAST(2*i AS INTEGER), 1)) - 1 AS bin,
      |         COUNT(*) AS c
      |  FROM (SELECT asset_id, hx, unnest(range(1, n + 1)) AS i FROM h) u
      |  GROUP BY 1, 2
      |),
      |feat AS (
      |  SELECT c.asset_id,
      |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list(CAST(c.c AS DOUBLE) / GREATEST(1.0, CAST(h.n AS DOUBLE)) ORDER BY c.bin)),
      |           (a, x) -> a + x) AS feat_l1,
      |         CAST(MAX(c.c) AS DOUBLE) / GREATEST(1.0, CAST(ANY_VALUE(h.n) AS DOUBLE)) AS feat_max
      |  FROM counts c JOIN h ON c.asset_id = h.asset_id
      |  GROUP BY c.asset_id
      |)
      |SELECT h.asset_id, h.width, h.height, f.feat_l1, f.feat_max
      |FROM h JOIN feat f ON h.asset_id = f.asset_id
      |ORDER BY h.asset_id""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Multimodal frame sampling end-to-end: binary payloads split into
    * equal "frames", one FNV signature per frame (the 1-row-in,
    * n-rows-out generator shape of real frame extraction). Oracle:
    * DuckDB replays the FNV chunk hashes byte-for-byte in HUGEINT
    * arithmetic — including the Scala implementation's sign-extending
    * byte xor — via to_hex byte extraction. */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Multimodal
    val assets = Multimodal.packAsAssets(Tables.documents(s, dir))
    Multimodal.sampleFrames(s, assets, n = 4).toDF()
      .orderBy("asset_id", "frame_idx")
  }

  private val q65Sql =
    """WITH f AS (
      |  SELECT doc_id, lower(to_hex(encode(text))) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n,
      |    GREATEST(1, CAST(octet_length(encode(text)) AS BIGINT) // 4) AS chunk,
      |    unnest(range(4)) AS frame_idx
      |  FROM documents
      |),
      |sigs AS (
      |  SELECT doc_id, frame_idx,
      |    list_reduce(
      |      list_prepend(CAST(1469598103934665603 AS HUGEINT),
      |        list_transform(range(frame_idx*chunk, LEAST(n, frame_idx*chunk + chunk)),
      |          i -> CAST(16 * (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INTEGER), 1)) - 1)
      |                 + (strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INTEGER), 1)) - 1) AS HUGEINT))),
      |      (h, b) -> ((CAST(xor(
      |           CAST(h - 18446744073709551616 * (CASE WHEN h >= 9223372036854775808 THEN 1 ELSE 0 END) AS BIGINT),
      |           CAST(b - 256 * (CASE WHEN b >= 128 THEN 1 ELSE 0 END) AS BIGINT)
      |         ) AS HUGEINT) + 18446744073709551616) % 18446744073709551616
      |         * 1099511628211 % 18446744073709551616)) AS usig
      |  FROM f
      |)
      |SELECT doc_id AS asset_id, CAST(frame_idx AS INTEGER) AS frame_idx,
      |  CAST(usig - 18446744073709551616 * (CASE WHEN usig >= 9223372036854775808 THEN 1 ELSE 0 END) AS BIGINT) AS frame_signature
      |FROM sigs ORDER BY asset_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Full-SQL parser surface over the registered harness views. */
  private def q45(s: SparkSession, dir: String): DataFrame =
    graft.engine.Sql.query(s, dir,
      """SELECT d.lang, COUNT(*) AS n_docs, SUM(d.n_chars) AS total_chars
        |FROM documents d
        |WHERE d.n_chars > 100
        |GROUP BY d.lang
        |ORDER BY d.lang""".stripMargin)

  private val q45Sql =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE n_chars > 100
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q54
  /** Corpus sketching with the custom MinHashMerge aggregate:
    * per-language merged signatures, then pairwise estimated Jaccard
    * between language sub-corpora. Map-side partial aggregation keeps
    * the exchange at one k-long buffer per partition per group. */
  private def q54(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Dedup, MinHashMerge}
    val docs = Tables.documents(s, dir)
    val sigs = Dedup.minhashSignaturesOf(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
    val byLang = sigs.groupBy("lang")
      .agg(MinHashMerge.minhashMerge(col("sig"), 50).as("lang_sig"))
    val a = byLang.select(col("lang").as("lang_a"), col("lang_sig").as("sig_a"))
    val b = byLang.select(col("lang").as("lang_b"), col("lang_sig").as("sig_b"))
    a.join(b, col("lang_a") < col("lang_b"))
      .select(col("lang_a"), col("lang_b"),
        MinHashMerge.estimatedJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .orderBy("lang_a", "lang_b")
  }

  // ---------------------------------------------------------------- q55
  /** Full dedup funnel: exact collapse → banded-MinHash pairs →
    * connected components → one survivor per cluster; reports per-lang
    * retention. Oracle: DuckDB rebuilds the whole funnel independently
    * — min-id-per-text exact collapse, ALL-pairs trigram Jaccard
    * (ground truth; banding recall is 1 here, see q31), connected
    * components via a recursive reachability CTE, min-id survivors —
    * so the end-to-end funnel semantics are checked, not just the
    * parts. */
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val kept = graft.ops.Dedup.deduplicate(docs, maxJaccardDist = 0.4)
    docs.groupBy("lang").agg(count(lit(1)).as("n_before"))
      .join(kept.groupBy("lang").agg(count(lit(1)).as("n_after")), "lang")
      .withColumn("n_removed", col("n_before") - col("n_after"))
      .orderBy("lang")
  }

  private val q55Sql =
    """WITH RECURSIVE exact AS (
      |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
      |),
      |kept_exact AS (
      |  SELECT d.doc_id, d.lang FROM documents d JOIN exact e ON d.doc_id = e.doc_id
      |),
      |toks AS (
      |  SELECT k.doc_id, regexp_split_to_array(d.text, '\s+') AS t
      |  FROM kept_exact k JOIN documents d ON k.doc_id = d.doc_id
      |),
      |grams AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(len(t) - 2),
      |      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS g
      |  FROM toks WHERE len(t) >= 3
      |),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      |  WHERE 1.0 - (CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |      / (CAST(len(a.g) + len(b.g) AS DOUBLE) - CAST(len(list_intersect(a.g, b.g)) AS DOUBLE))) <= 0.4
      |),
      |edges AS (
      |  SELECT doc_a AS s, doc_b AS d FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs
      |),
      |reach AS (
      |  SELECT DISTINCT s AS id, s AS lab FROM edges
      |  UNION
      |  SELECT e.d AS id, r.lab FROM reach r JOIN edges e ON e.s = r.id
      |),
      |comp AS (SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id),
      |kept AS (
      |  SELECT k.doc_id, k.lang FROM kept_exact k
      |  WHERE k.doc_id NOT IN (SELECT id FROM comp WHERE cluster < id)
      |)
      |SELECT d.lang, COUNT(*) AS n_before, ANY_VALUE(a.n_after) AS n_after,
      |  COUNT(*) - ANY_VALUE(a.n_after) AS n_removed
      |FROM documents d
      |JOIN (SELECT lang, COUNT(*) AS n_after FROM kept GROUP BY lang) a ON d.lang = a.lang
      |GROUP BY d.lang
      |ORDER BY d.lang""".stripMargin

  /** Why the remaining `None`-oracle queries resist a DuckDB oracle
    * (each is covered by seeded-determinism + distance-sanity specs,
    * RowsOnlySanitySpec re-deriving every emitted distance on real
    * testdata, AND a Verify-time self-check recorded per round in
    * self_checks.json — see [[graft.SelfChecks]]):
    *  - q30/q67: MLlib CountVectorizer/HashingTF+IDF+LSH fits — vector
    *    spaces depend on murmur3/seeded fits DuckDB cannot replay.
    *  - q35/q54: HLL++/approx-quantile/MinHash sketch internals differ
    *    per engine by design (estimates, not values); the self-check
    *    bounds each estimate against its exact twin.
    * q42 moved OFF this list in round 3: adaptive exact-IVF equals
    * brute force structurally, so the brute-force SQL is its oracle.
    * q33/q43 moved OFF this list in round 7: their metric columns are
    * exact even though pair selection is recall-dependent, so a
    * SEMI-oracle (recompute the metric for the emitted ids — see
    * q33Sql/q43Sql) puts the numbers under the driver's hash. */
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q54_corpus_sketch", q54, None),
    QueryDef("q55_dedup_corpus", q55, Some(q55Sql)),
    QueryDef("q44_multimodal", q44, Some(q44Sql)),
    QueryDef("q65_frame_samples", q65, Some(q65Sql)),
    QueryDef("q45_sql_interface", q45, Some(q45Sql)),
    QueryDef("q30_doc_recommend", q30, None),
    QueryDef("q67_recommend_hashed", q67, None),
    QueryDef("q31_minhash_pairs", q31, Some(q31Sql)),
    QueryDef("q32_simhash_pairs", q32, Some(q32Sql)),
    QueryDef("q33_ann_lsh", q33, Some(q33Sql)),
    QueryDef("q35_sketches", q35, None),
    QueryDef("q42_ivf_knn", q42, Some(q42Sql)),
    QueryDef("q43_lsh_neardup", q43, Some(q43Sql)))
}
