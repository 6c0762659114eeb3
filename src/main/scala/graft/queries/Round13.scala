package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.ops.Dedup

/** Round-13 battery additions: the chained append-to-index increment
  * loop (q112). All reference-scope-none LLM-pipeline extensions
  * (SURVEY §8).
  */
object Round13 {

  // ---------------------------------------------------------------- q112
  /** Chained incremental dedup via [[graft.ops.Dedup.appendToIndex]]:
    * build the corpus index once, admit batch A against it, APPEND the
    * admitted docs to the index (batch-sized hashing only — the corpus
    * is never re-indexed), then admit batch B against the grown index.
    * This is the daily-increment loop every production corpus runs:
    * per-day cost tracks batch size; the corpus is touched only
    * through the stored/cached index. Previously spec-only (the last
    * dedup component without a battery query — round-12 verdict ask
    * #2); the oracle replays BOTH admission rounds with the q87
    * recursive-CTE funnel, round B against corpus ∪ admitted(A) —
    * exactly the "chained ≡ re-indexed" equivalence the
    * appendToIndex spec asserts, lifted into CORRECTNESS. Same
    * recall-1 banding argument as q31/q84/q87. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % 10 >= 2)
    val batchA = docs.filter(col("doc_id") % 10 === 0)
    val batchB = docs.filter(col("doc_id") % 10 === 1)
    val idx = Dedup.indexCorpus(corpus)
    // materialize admitted(A) with its LINEAGE CUT (eager
    // localCheckpoint, not cache+count) before appending — the
    // appendToIndex contract. A cached admitted frame measured 3-4×
    // slower end to end: the B funnel's self-join layers re-alias
    // their inputs during analysis, cache LOOKUP misses on the
    // aliased plans (the connectedComponents lesson), and every miss
    // re-ran the whole A-admission funnel. Checkpointed blocks are
    // hit no matter how the analyzer rewrites the plan above them.
    val admittedA = Dedup.incrementalDeduplicateIndexed(
      batchA, idx, maxJaccardDist = 0.4).localCheckpoint(true)
    // same reasoning for the grown index's union frames: round B then
    // plans against materialized blocks, not the A-round join tree.
    // This copies the corpus-side blocks once — acceptable for the
    // resident working index a within-run chained loop keeps
    // (DocsStream growIndex); the PRODUCTION cadence appends to the
    // STORED index instead (q90 saveIndex), where the corpus side is
    // parquet and never copied
    val grown0 = Dedup.appendToIndex(idx, admittedA)
    val grown = grown0.copy(
      shingles = grown0.shingles.localCheckpoint(true),
      bandRows = grown0.bandRows.localCheckpoint(true),
      texts = grown0.texts.localCheckpoint(true))
    val admittedB = Dedup.incrementalDeduplicateIndexed(
      batchB, grown, maxJaccardDist = 0.4)
    admittedA.select(lit("A").as("batch"), col("doc_id"), col("lang"))
      .unionByName(
        admittedB.select(lit("B").as("batch"), col("doc_id"), col("lang")))
      .orderBy("batch", "doc_id")
  }

  /** One q87-style admission replay (exact layer → cross near-dup
    * layer → within-batch recursive-CTE clustering), CTE names
    * suffixed so two rounds compose in one WITH RECURSIVE.
    *
    * `edges_` is `AS MATERIALIZED`: DuckDB 1.0 inlines CTEs at every
    * reference, so the recursive `reach_` otherwise re-evaluates
    * `edges_` (and `pairs_` twice under it) on every iteration — at
    * sf0.01 that ran out of memory under 3 GB, pinned it returns the
    * same rows in seconds (the trap [[bpeChainCtes]] pins too). */
  private def admitRound(sfx: String, batch: String, corpus: String): String = {
    val jac = (a: String, b: String) =>
      s"""1.0 - (CAST(len(list_intersect($a.g, $b.g)) AS DOUBLE)
         |      / (CAST(len($a.g) + len($b.g) AS DOUBLE) - CAST(len(list_intersect($a.g, $b.g)) AS DOUBLE)))""".stripMargin
    s"""ex_$sfx AS (
       |  SELECT MIN(doc_id) AS doc_id FROM $batch
       |  WHERE text NOT IN (SELECT text FROM $corpus)
       |  GROUP BY text
       |),
       |kept1_$sfx AS (
       |  SELECT b.doc_id, b.lang, b.text FROM $batch b JOIN ex_$sfx e ON b.doc_id = e.doc_id
       |),
       |bgrams_$sfx AS (
       |  SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
       |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS g
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM kept1_$sfx)
       |  WHERE len(t) >= 3
       |),
       |cgrams_$sfx AS (
       |  SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
       |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS g
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM $corpus)
       |  WHERE len(t) >= 3
       |),
       |crossdrop_$sfx AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM bgrams_$sfx a, cgrams_$sfx b
       |  WHERE ${jac("a", "b")} <= 0.4
       |),
       |kept2_$sfx AS (
       |  SELECT doc_id, lang, text FROM kept1_$sfx
       |  WHERE doc_id NOT IN (SELECT doc_id FROM crossdrop_$sfx)
       |),
       |k2g_$sfx AS (SELECT g.doc_id, g.g FROM bgrams_$sfx g JOIN kept2_$sfx k ON g.doc_id = k.doc_id),
       |pairs_$sfx AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM k2g_$sfx a JOIN k2g_$sfx b ON a.doc_id < b.doc_id
       |  WHERE ${jac("a", "b")} <= 0.4
       |),
       |edges_$sfx AS MATERIALIZED (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs_$sfx
       |  UNION ALL SELECT doc_b, doc_a FROM pairs_$sfx
       |),
       |reach_$sfx AS (
       |  SELECT DISTINCT s AS id, s AS lab FROM edges_$sfx
       |  UNION
       |  SELECT e.d AS id, r.lab FROM reach_$sfx r JOIN edges_$sfx e ON e.s = r.id
       |),
       |comp_$sfx AS (SELECT id, MIN(lab) AS cluster FROM reach_$sfx GROUP BY id),
       |adm_$sfx AS (
       |  SELECT doc_id, lang, text FROM kept2_$sfx
       |  WHERE doc_id NOT IN (SELECT id FROM comp_$sfx WHERE cluster < id)
       |)""".stripMargin
  }

  private val q112Sql =
    s"""WITH RECURSIVE
       |corpus0 AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 >= 2),
       |batch_a AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 = 0),
       |batch_b AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 = 1),
       |${admitRound("a", "batch_a", "corpus0")},
       |corpus1 AS (
       |  SELECT doc_id, lang, text FROM corpus0
       |  UNION ALL SELECT doc_id, lang, text FROM adm_a
       |),
       |${admitRound("b", "batch_b", "corpus1")}
       |SELECT 'A' AS batch, doc_id, lang FROM adm_a
       |UNION ALL
       |SELECT 'B' AS batch, doc_id, lang FROM adm_b
       |ORDER BY batch, doc_id""".stripMargin

  // ---------------------------------------------------------------- q113
  /** BPE merge TRAINING + application ([[graft.text.Bpe]]): learn 6
    * pair merges on the corpus (count-weighted, deterministic
    * (count DESC, left, right) tie-break), then re-encode every
    * document and report per-doc word/piece counts — q104 applies a
    * vocabulary; this LEARNS one, the real-tokenizer step. The oracle
    * replays each training round as one generated CTE stage (the q73
    * generated-CTE pattern): pair counts from the vocabulary frame,
    * top-1, then the left-to-right non-overlapping merge as a
    * list_reduce fold over a unit-separator-joined symbol string
    * (DuckDB's fold accumulator must match the element type, so the
    * symbol list is carried as one chr(31)-joined string). Any
    * divergence in any round's chosen pair or merge application
    * changes downstream piece counts, so the per-doc hash pins the
    * whole k-round training trajectory. */
  private def q113(s: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.bpeStats(Tables.documents(s, dir), k = 6)
      .orderBy("doc_id")

  /** q113's BPE training CTE block (k = 6 merges): w0 through fin —
    * ends in `fin(tok, np)`, the per-word BPE piece count. Exposed so
    * q204 can replay the trained tokenizer beside the WordPiece and
    * unigram-LM replays in one fertility table. */
  /** The BPE training chain as oracle CTEs, parameterized (q221
    * sweeps the merge count): w0 through w`$k`, with a
    * `fin(tok, np)` piece-count CTE emitted at EVERY stage in
    * `fins` — merges are incremental, so one `k = 32` chain serves
    * the whole {4, 8, 16, 32} frontier read at its prefixes.
    *
    * The w-spine is `AS MATERIALIZED`: DuckDB 1.0 INLINES CTEs at
    * every reference, and each stage references its predecessor
    * twice (pair counts + fold), so an uninlined 32-stage chain
    * re-evaluates w₀ 2³² times — measured as a 4-minute, >20 000-
    * open-file oracle before the pin; k = 6 merely hid the
    * exponential under 2⁶. */
  private[queries] def bpeChainCtes(k: Int,
      fins: Seq[(String, Int)]): String = {
    val U = "chr(31)"
    // One training round: pair counts → deterministic top-1 (with a
    // chr(30) sentinel row when no pairs remain, so the cross join
    // never empties — the engine's early-break equivalent: a sentinel
    // pair matches no real symbol and the fold is the identity) →
    // fold-merge into the next vocabulary stage.
    def stage(i: Int): String = {
      val prev = s"w${i - 1}"
      s"""p$i AS (
         |  SELECT sp[i+1] AS l, sp[i+2] AS r, SUM(cnt) AS c
         |  FROM (SELECT cnt, string_split(sym, $U) AS sp FROM $prev), UNNEST(range(len(sp)-1)) AS u(i)
         |  GROUP BY 1, 2
         |),
         |b$i AS (
         |  SELECT l, r FROM p$i ORDER BY c DESC, l, r LIMIT 1
         |),
         |bs$i AS (
         |  SELECT l, r FROM b$i
         |  UNION ALL SELECT chr(30), chr(30) WHERE (SELECT COUNT(*) FROM p$i) = 0
         |),
         |w$i AS MATERIALIZED (
         |  SELECT tok, cnt,
         |    list_reduce(list_prepend('', string_split(sym, $U)),
         |      (acc, x) -> CASE
         |        WHEN acc = '' THEN x
         |        WHEN list_last(string_split(acc, $U)) = b.l AND x = b.r
         |        THEN CASE WHEN strpos(acc, $U) = 0 THEN b.l || b.r
         |             ELSE array_to_string(list_slice(string_split(acc, $U), 1, len(string_split(acc, $U))-1), $U) || $U || b.l || b.r END
         |        ELSE acc || $U || x END) AS sym
         |  FROM $prev, bs$i b
         |)""".stripMargin
    }
    val finCtes = fins.map { case (name, j) =>
      s"$name AS (SELECT tok, CAST(len(string_split(sym, $U)) AS BIGINT) AS np FROM w$j)"
    }
    s"""w0 AS MATERIALIZED (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    array_to_string(list_transform(range(1, length(tok)+1), i -> substr(tok, CAST(i AS INT), 1)), $U) AS sym
       |  FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents)
       |  WHERE length(tok) > 0
       |  GROUP BY tok
       |),
       |${(1 to k).map(stage).mkString(",\n")},
       |${finCtes.mkString(",\n")}""".stripMargin
  }

  private[queries] val bpePerwordCtes: String =
    bpeChainCtes(6, Seq(("fin", 6)))

  private val q113Sql =
    s"""WITH
       |$bpePerwordCtes,
       |words AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents)
       |SELECT w.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(CASE WHEN length(w.tok) = 0 THEN 0 ELSE f.np END) AS BIGINT) AS n_pieces
       |FROM words w LEFT JOIN fin f ON w.tok = f.tok
       |GROUP BY w.doc_id
       |ORDER BY w.doc_id""".stripMargin

  // ---------------------------------------------------------------- q114
  /** Semantic decontamination ([[graft.ops.Similarity
    * .benchContamination]]): embeddings with vec_id % 25 = 0 play the
    * benchmark suite, the rest the training corpus; flag every corpus
    * vector whose max cosine against any benchmark vector reaches
    * 0.35 — the paraphrase-leakage net the n-gram decon family
    * (q62/q72/q89/q98) cannot catch. The corpus side round-trips
    * through the STORED IVF layout (q97's partitioned parquet), and
    * only the lists the triangle bound cannot rule out are read —
    * recall 1 by construction, so the exact all-pairs cosine SQL is a
    * true oracle (the q42 stance: the pruning machinery is under
    * test, not a recall gamble). */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val bench = emb.filter(col("vec_id") % 25 === 0)
    val corpus = emb.filter(col("vec_id") % 25 =!= 0)
    graft.ops.Similarity.benchContamination(corpus, bench, minCosine = 0.35,
        storageDir = Some(Round11.freshScratchDirShared("graft_q114_ivf")))
      .orderBy("vec_id")
  }

  private val q114Sql =
    """WITH u AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      |      sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
      |        (acc, e) -> acc + e))) AS unit
      |  FROM embeddings
      |),
      |b AS (SELECT vec_id AS bid, unit FROM u WHERE vec_id % 25 = 0),
      |c AS (SELECT vec_id, unit FROM u WHERE vec_id % 25 <> 0),
      |sc AS (
      |  SELECT c.vec_id, b.bid,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(range(len(c.unit)), i ->
      |        c.unit[CAST(i+1 AS INTEGER)] * b.unit[CAST(i+1 AS INTEGER)])),
      |      (acc, e) -> acc + e) AS cosine
      |  FROM c, b
      |),
      |m AS (SELECT vec_id, MAX(cosine) AS max_cos FROM sc GROUP BY vec_id)
      |SELECT m.vec_id, MIN(sc.bid) AS bench_id, m.max_cos
      |FROM m JOIN sc ON sc.vec_id = m.vec_id AND sc.cosine = m.max_cos
      |WHERE m.max_cos >= 0.35
      |GROUP BY m.vec_id, m.max_cos
      |ORDER BY m.vec_id""".stripMargin

  // ---------------------------------------------------------------- q115
  /** Deterministic shard manifest ([[graft.ops.Sharding]]): assign
    * every document to a size-targeted shard by cumulative token
    * budget (prefix-sum boundary rule — distributable, unlike greedy
    * next-fit) and roll up the manifest a training job verifies
    * against: per-shard doc count, token sum, order-independent
    * content hash (Σ rolling fingerprints mod p), and id range. The
    * WRITER itself (partitioned parquet + manifest file) runs in
    * TrainDataBench and the spec; the battery query pins the
    * assignment + rollup arithmetic, which is everything the writer
    * computes. Oracle: plain prefix-sum window + the q19 fingerprint
    * replay. */
  private def q115(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sharding.shardManifest(
      graft.ops.Sharding.assignShards(Tables.documents(s, dir), budget = 2000L))
      .orderBy("shard_id")

  private val q115Sql =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tok,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(regexp_split_to_array(text, '\s+'),
      |          t -> CAST(ascii(t) AS BIGINT)*131 + CAST(length(t) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS doc_fp
      |  FROM documents
      |),
      |placed AS (
      |  SELECT doc_id, n_tok, doc_fp,
      |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
      |  FROM c
      |)
      |SELECT start // 2000 AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(doc_fp) % 1000000007 AS BIGINT) AS content_hash,
      |  MIN(doc_id) AS first_doc,
      |  MAX(doc_id) AS last_doc
      |FROM placed
      |WHERE n_tok > 0
      |GROUP BY 1
      |ORDER BY shard_id""".stripMargin

  // ---------------------------------------------------------------- q116
  /** Sequence packing in LEARNED-BPE units: q113's trained tokenizer
    * plugged into q82's packing as `countExpr` — the q107 composition
    * with the vocabulary-applying tokenizer swapped for the
    * merge-LEARNING one, i.e. the exact count a trained-tokenizer
    * loader would pack by. Training cost is vocabulary-sized (q113's
    * shape); the count+pack pipeline stays one codegen'd map pass
    * plus the two-phase prefix sum. Oracle: the q113 six-stage merge
    * replay feeding the q82 LATERAL range cut. */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val m = graft.text.Bpe.fit(docs, k = 6)
    val pieces = element_at(graft.text.Bpe.statsCol(col("text"), m), 2)
    graft.ops.Packing.packSequences(docs, budget = 128L,
        countExpr = Some(pieces))
      .orderBy("seq_id", "doc_id")
  }

  private val q116Sql = {
    // q113's training replay (shared stage generator) …
    val trainPrefix = q113Sql.substring(0, q113Sql.indexOf(",\nfin AS"))
    s"""$trainPrefix,
       |fin AS (SELECT tok, CAST(len(string_split(sym, chr(31))) AS BIGINT) AS np FROM w6),
       |words AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents),
       |counted AS (
       |  SELECT w.doc_id,
       |    CAST(SUM(CASE WHEN length(w.tok) = 0 THEN 0 ELSE f.np END) AS BIGINT) AS n_tok
       |  FROM words w LEFT JOIN fin f ON w.tok = f.tok
       |  GROUP BY w.doc_id
       |),
       |placed AS (
       |  SELECT doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
       |  FROM counted
       |)
       |SELECT s.seq_id, doc_id,
       |  GREATEST(start, s.seq_id * 128) - start AS doc_off,
       |  GREATEST(start, s.seq_id * 128) - s.seq_id * 128 AS seq_off,
       |  LEAST(start + n_tok, (s.seq_id + 1) * 128)
       |    - GREATEST(start, s.seq_id * 128) AS len
       |FROM placed, LATERAL (
       |  SELECT unnest(range(start // 128, (start + n_tok - 1) // 128 + 1)) AS seq_id) s
       |WHERE n_tok > 0
       |ORDER BY seq_id, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q117
  /** STORED tokenizer round trip ([[graft.text.Bpe.saveMerges]] /
    * `loadMerges`): train the q113 merges, persist them as the
    * (merge_idx, left, right) artifact, reload, and apply — the
    * production cadence where the tokenizer is trained once per
    * corpus refresh and every downstream job loads it. Same oracle
    * as q113: the storage hop must be semantically invisible (the
    * q90/q97 stance applied to the tokenizer artifact). */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val trained = graft.text.Bpe.fit(docs, k = 6)
    val mdir = Round11.freshScratchDirShared("graft_q117_bpe")
    graft.text.Bpe.saveMerges(trained, mdir, s)
    val loaded = graft.text.Bpe.loadMerges(s, mdir)
    docs.select(col("doc_id"),
        graft.text.Bpe.statsCol(col("text"), loaded).as("__s"))
      .select(col("doc_id"),
        element_at(col("__s"), 1).as("n_words"),
        element_at(col("__s"), 2).as("n_pieces"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q118
  /** Pseudo-shuffled sequence packing ([[graft.ops.Packing
    * .packShuffled]]): concatenate in (knuth-hash(id), id) order
    * before cutting — training pipelines shuffle before packing so a
    * sequence doesn't hold documents that arrived together, and the
    * Knuth permutation keeps the shuffle a replayable pure function
    * of the id set (no rand() sort). Same two-phase prefix-sum scale
    * shape as q82, just keyed on the hash; the oracle replays the
    * HUGEINT-guarded hash and the window in shuffled order. */
  private def q118(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packShuffled(Tables.documents(s, dir), budget = 256L)
      .orderBy("seq_id", "doc_id")

  private val q118Sql =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tok,
      |    CAST((CAST(doc_id % 4294967296 AS HUGEINT) * 2654435761)
      |         % 4294967296 AS BIGINT) AS hv
      |  FROM documents
      |),
      |placed AS (
      |  SELECT doc_id, n_tok,
      |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY hv, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
      |  FROM c
      |)
      |SELECT s.seq_id, doc_id,
      |  GREATEST(start, s.seq_id * 256) - start AS doc_off,
      |  GREATEST(start, s.seq_id * 256) - s.seq_id * 256 AS seq_off,
      |  LEAST(start + n_tok, (s.seq_id + 1) * 256)
      |    - GREATEST(start, s.seq_id * 256) AS len
      |FROM placed, LATERAL (
      |  SELECT unnest(range(start // 256, (start + n_tok - 1) // 256 + 1)) AS seq_id) s
      |WHERE n_tok > 0
      |ORDER BY seq_id, doc_id""".stripMargin

  // ---------------------------------------------------------------- q119
  /** Quality-aware dedup survivor selection ([[graft.ops.Dedup
    * .deduplicateKeepBest]]): the q55 funnel with each near-dup
    * cluster keeping its BEST-scoring member (q105's integer
    * classifier score, ties to min id) instead of the min id — "of N
    * copies, keep the cleanest one", the curation policy real
    * pipelines run once a quality model exists. Oracle: the q55
    * recursive-CTE component replay plus the q105 score fold, with a
    * per-cluster (score DESC, id) argmax window. */
  private def q119(s: SparkSession, dir: String): DataFrame =
    Dedup.deduplicateKeepBest(Tables.documents(s, dir),
        graft.ops.Classifier.hashedLinearScore(col("text"), 64L),
        maxJaccardDist = 0.4)
      .select(col("doc_id"), col("lang"), col("score"))
      .orderBy("doc_id")

  /** q105's codepoint-hash linear score as a DuckDB scalar over
    * column `text` — shared by the q119 survivor argmax. */
  private[queries] val scoreFold =
    """CAST(COALESCE(list_sum(list_transform(
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0), tok ->
      |    ((list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(1, length(tok)+1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))),
      |      (acc, c) -> (acc * 131 + c) % 1000000007) % 64) * 2654435761) % 4294967296 % 1001 - 500
      |  )), 0) AS BIGINT)""".stripMargin

  private val q119Sql =
    s"""WITH RECURSIVE exact AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
       |),
       |kept_exact AS (
       |  SELECT d.doc_id, d.lang, d.text FROM documents d JOIN exact e ON d.doc_id = e.doc_id
       |),
       |toks AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM kept_exact
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
       |sc AS (SELECT doc_id, $scoreFold AS score FROM kept_exact),
       |ranked AS (
       |  SELECT c.cluster, c.id,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster ORDER BY s.score DESC, c.id) AS rn
       |  FROM comp c JOIN sc s ON s.doc_id = c.id
       |),
       |losers AS (SELECT id FROM ranked WHERE rn > 1)
       |SELECT k.doc_id, k.lang, s.score
       |FROM kept_exact k JOIN sc s ON s.doc_id = k.doc_id
       |WHERE k.doc_id NOT IN (SELECT id FROM losers)
       |ORDER BY k.doc_id""".stripMargin

  // ---------------------------------------------------------------- q120
  /** Corpus-internal duplicated-span excision ([[graft.ops.Dedup
    * .exciseDuplicatedSpans]]): every 13-gram occurrence except the
    * corpus-wide first is cut and the survivors reassembled — the
    * Lee et al. "dedup the repeated substrings themselves" pass that
    * closes the span family: q95 MEASURES internal duplication, q98
    * excises against an EXTERNAL benchmark, this excises the internal
    * duplication itself, keep-first. Oracle: q95's positional-gram
    * spelling with a per-gram (doc_id, pos) first-occurrence window,
    * then q98's coverage + ordered-reassembly replay. */
  private def q120(s: SparkSession, dir: String): DataFrame =
    Dedup.exciseDuplicatedSpans(Tables.documents(s, dir), shingleSize = 13)
      .orderBy("doc_id")

  private val q120Sql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
      |gr AS (
      |  SELECT doc_id, i AS pos, array_to_string(t[i+1:i+13], ' ') AS g
      |  FROM t, UNNEST(range(greatest(len(t) - 12, 0))) AS u(i)
      |),
      |rk AS (
      |  SELECT doc_id, pos,
      |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
      |    COUNT(*) OVER (PARTITION BY g) AS occ
      |  FROM gr
      |),
      |m AS (SELECT doc_id, pos FROM rk WHERE occ >= 2 AND rn > 1),
      |cov AS (SELECT DISTINCT doc_id, pos + j AS tpos FROM m, UNNEST(range(13)) AS v(j)),
      |tk AS (
      |  SELECT doc_id, i AS tpos, t[CAST(i+1 AS INTEGER)] AS tok
      |  FROM t, UNNEST(range(len(t))) AS u(i)
      |),
      |kept AS (
      |  SELECT tk.doc_id, tk.tpos, tk.tok
      |  FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.tpos = cov.tpos
      |  WHERE cov.doc_id IS NULL
      |),
      |re AS (
      |  SELECT doc_id, COUNT(*) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY tpos) AS clean_text
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |  CAST(len(regexp_split_to_array(d.text, '\s+')) AS BIGINT) AS n_tokens,
      |  CAST(len(regexp_split_to_array(d.text, '\s+')) - COALESCE(re.n_kept, 0)
      |    AS BIGINT) AS removed_tokens,
      |  COALESCE(re.clean_text, '') AS clean_text
      |FROM documents d LEFT JOIN re USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q121
  /** Cross-source vocabulary overlap ([[graft.ops.TextStats
    * .sourceVocabOverlap]]): per source pair, vocabulary sizes,
    * shared distinct tokens and vocabulary Jaccard — the
    * DISTRIBUTION-level companion to q100's instance-level dup
    * matrix, the signal mixture design reads to decide whether two
    * feeds cover the same domain. Oracle: distinct (source, token)
    * projection + self-join, exact integer counts, one replayable
    * double division. */
  private def q121(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextStats.sourceVocabOverlap(Tables.documents(s, dir))
      .orderBy("source_a", "source_b")

  private val q121Sql =
    """WITH st AS (
      |  SELECT DISTINCT source, tok FROM (
      |    SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS tok
      |    FROM documents)
      |),
      |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab FROM st GROUP BY source),
      |sh AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(COUNT(*) AS BIGINT) AS shared
      |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT va.source AS source_a, vb.source AS source_b,
      |  va.vocab AS vocab_a, vb.vocab AS vocab_b,
      |  COALESCE(sh.shared, 0) AS shared_vocab,
      |  CAST(COALESCE(sh.shared, 0) AS DOUBLE)
      |    / CAST(va.vocab + vb.vocab - COALESCE(sh.shared, 0) AS DOUBLE) AS jaccard
      |FROM sizes va JOIN sizes vb ON va.source < vb.source
      |LEFT JOIN sh ON sh.source_a = va.source AND sh.source_b = vb.source
      |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------- q122
  /** DSIR-style target-affinity scoring ([[graft.ops.Classifier
    * .targetAffinityScores]]): documents with doc_id % 50 = 0 play
    * the curated target set (the q62 split convention), the rest the
    * raw pool; every pool document scores Σ target-bucket-count over
    * its hashed unigrams plus the integer-division length-normalized
    * rate — the "select raw data that looks like the target
    * distribution" step, integer-exact. Oracle: the q105 codepoint
    * fold per token, bucket counts as a CTE joined back to the
    * exploded pool tokens (the engine inlines them as a literal
    * lookup array — same integers, no join). */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.ops.Classifier.targetAffinityScores(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), dim = 64L)
      .orderBy("doc_id")
  }

  private val q122Sql = {
    val tokHash =
      """(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(tok)+1), i -> CAST(unicode(substr(tok, CAST(i AS INT), 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 131 + c) % 1000000007) % 64)""".stripMargin
    s"""WITH ttok AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |    x -> length(x) > 0)) AS tok
       |  FROM documents WHERE doc_id % 50 = 0
       |),
       |tb AS (SELECT $tokHash AS b, CAST(COUNT(*) AS BIGINT) AS c FROM ttok GROUP BY 1),
       |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
       |ctok AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |    x -> length(x) > 0)) AS tok
       |  FROM corpus
       |),
       |cb AS (SELECT doc_id, $tokHash AS b FROM ctok),
       |sc AS (
       |  SELECT cb.doc_id, CAST(SUM(COALESCE(tb.c, 0)) AS BIGINT) AS affinity
       |  FROM cb LEFT JOIN tb USING (b) GROUP BY cb.doc_id
       |),
       |n AS (
       |  SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
       |    x -> length(x) > 0)) AS BIGINT) AS n_tok
       |  FROM corpus
       |)
       |SELECT n.doc_id, n.n_tok, COALESCE(sc.affinity, 0) AS affinity,
       |  CASE WHEN n.n_tok = 0 THEN CAST(0 AS BIGINT)
       |       ELSE COALESCE(sc.affinity, 0) * 1000000 // n.n_tok END AS rate
       |FROM n LEFT JOIN sc ON sc.doc_id = n.doc_id
       |ORDER BY n.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q123
  /** Label-centroid semantic similarity ([[graft.ops.Similarity
    * .labelCentroidSimilarity]]): pairwise cosine between per-label
    * centroid vectors, integer-quantized before any cross-row sum so
    * the result is bit-stable under partitioning — the embedding-
    * space companion to q121's lexical overlap matrix. Oracle: the
    * identical quantize → integer sum → fixed-point mean → row-local
    * cosine arithmetic in DuckDB. */
  private def q123(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.labelCentroidSimilarity(Tables.embeddings(s, dir))
      .orderBy("label_a", "label_b")

  /** Shared quantize → integer-sum → fixed-point-mean centroid CTEs
    * (q123 pairwise cosine, q126 outlier distances). */
  private val centroidCtes =
    """q AS (
      |  SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
      |  FROM embeddings
      |),
      |e AS (
      |  SELECT label, i AS pos, qv[CAST(i+1 AS INTEGER)] AS v
      |  FROM q, UNNEST(range(len(qv))) AS u(i)
      |),
      |s AS (SELECT label, pos, CAST(SUM(v) AS BIGINT) AS sv FROM e GROUP BY 1, 2),
      |n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY 1),
      |m AS (
      |  -- exact floorDiv on BIGINTs (mirrors the engine): subtract the
      |  -- non-negative remainder, then the // is exact at any magnitude
      |  SELECT s.label, s.pos,
      |    CAST((s.sv - (((s.sv % n.n) + n.n) % n.n)) // n.n AS BIGINT) AS mv
      |  FROM s JOIN n USING (label)
      |),
      |c AS (SELECT label, list(mv ORDER BY pos) AS cv FROM m GROUP BY label)""".stripMargin

  private val q123Sql =
    s"""WITH $centroidCtes
      |SELECT a.label AS label_a, b.label AS label_b, na.n AS n_a, nb.n AS n_b,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(len(a.cv)),
      |        i -> a.cv[CAST(i+1 AS INTEGER)] * b.cv[CAST(i+1 AS INTEGER)])),
      |      (acc, x) -> acc + x) AS DOUBLE)
      |  / (sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(a.cv, x -> x * x)), (acc, x) -> acc + x) AS DOUBLE))
      |   * sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(b.cv, x -> x * x)), (acc, x) -> acc + x) AS DOUBLE)))
      |  AS cosine
      |FROM c a JOIN c b ON a.label < b.label
      |JOIN n na ON na.label = a.label
      |JOIN n nb ON nb.label = b.label
      |ORDER BY label_a, label_b""".stripMargin

  // ---------------------------------------------------------------- q124
  /** Mixture epoch/repeat plan ([[graft.ops.Splits.epochPlan]]):
    * token-specced temperature targets per source plus the
    * `epochs_x1000` repeat factor — the UPsampling table (repeat the
    * small curated source) that q66/q99's keep-fraction samplers
    * cannot express. Oracle: per-source token sums, the √-weight fold
    * in source-name order (q99's list_reduce spelling), floor'd
    * targets and a BIGINT fixed-point division. */
  private def q124(s: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.epochPlan(Tables.documents(s, dir),
        budgetTokens = 100000L, alpha = 0.5)
      .orderBy("source")

  private val q124Sql =
    """WITH n AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |),
      |w AS (SELECT source, n_docs, n_tokens,
      |  sqrt(CAST(n_tokens AS DOUBLE)) AS w FROM n),
      |s AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list(w ORDER BY source)), (acc, e) -> acc + e) AS sw
      |  FROM w
      |),
      |t AS (
      |  SELECT source, n_docs, n_tokens,
      |    CAST(floor((100000.0 * w) / (SELECT sw FROM s)) AS BIGINT) AS target_tokens
      |  FROM w
      |)
      |SELECT source, n_docs, n_tokens, target_tokens,
      |  CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
      |       -- HUGEINT hop mirrors the engine's BigInt fixed-point step:
      |       -- target·1000 overflows BIGINT for budgets above ~9.2e15
      |       ELSE CAST(CAST(target_tokens AS HUGEINT) * 1000 // n_tokens AS BIGINT)
      |       END AS epochs_x1000
      |FROM t
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q125
  /** Multimodal NEAR-dup pairs ([[graft.ops.Multimodal
    * .phashNearDupPairs]]): 64-bit perceptual hashes, 4×16-bit
    * pigeonhole bands, Hamming verify ≤ 3 — the re-encoded-copy net
    * q93's exact phash grouping cannot catch, recall 1 by pigeonhole
    * so the exact all-pairs Hamming SQL is a true oracle (the q32
    * SimHash contract on the multimodal column). Oracle: q93's
    * byte-histogram phash replay generalized to 64 bins, pairwise
    * Hamming counted bit-row-wise (no signed-64-bit packing needed).
    */
  private def q125(s: SparkSession, dir: String): DataFrame =
    // maxHamming 1, not the operator's default 3: the stub phash is a
    // byte histogram, and synthetic same-language text collides so
    // heavily that radius 3 emits ~20% of ALL pairs (measured 50k
    // rows at sf0.01) — radius 1 keeps the battery output
    // near-dup-shaped while exercising the identical band+verify path
    graft.ops.Multimodal.phashNearDupPairs(s,
        graft.ops.Multimodal.packAsAssets(Tables.documents(s, dir)),
        maxHamming = 1)
      .orderBy("asset_a", "asset_b")

  /** The 64-bin byte-histogram phash + pairwise Hamming replay over
    * `src` (doc_id, text), ending in `hp(asset_a, asset_b, hamming)`
    * — q125's oracle body, parametrized so q146's cross-modal union
    * can run it over the exact-survivor frame. */
  private[queries] def phashPairCtes(src: String): String =
    s"""h AS (
      |  SELECT doc_id AS asset_id, lower(to_hex(encode(text))) AS hx,
      |         CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM $src
      |),
      |counts AS (
      |  SELECT asset_id,
      |    16 * ((strpos('0123456789abcdef', substr(hx, CAST(2*i - 1 AS INTEGER), 1)) - 1) % 4)
      |      + (strpos('0123456789abcdef', substr(hx, CAST(2*i AS INTEGER), 1)) - 1) AS bin,
      |    COUNT(*) AS c
      |  FROM (SELECT asset_id, hx, unnest(range(1, n + 1)) AS i FROM h) u
      |  GROUP BY 1, 2
      |),
      |bins AS (
      |  SELECT h.asset_id, g.bin, COALESCE(c.c, 0) AS c
      |  FROM h CROSS JOIN (SELECT unnest(range(64)) AS bin) g
      |  LEFT JOIN counts c ON c.asset_id = h.asset_id AND c.bin = g.bin
      |),
      |bits AS (
      |  SELECT a.asset_id, a.bin, CASE WHEN a.c > b.c THEN 1 ELSE 0 END AS bit
      |  FROM bins a JOIN bins b
      |    ON a.asset_id = b.asset_id AND b.bin = (a.bin + 1) % 64
      |),
      |hp AS (
      |  SELECT x.asset_id AS asset_a, y.asset_id AS asset_b,
      |    CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS INTEGER) AS hamming
      |  FROM bits x JOIN bits y ON x.bin = y.bin AND x.asset_id < y.asset_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  private val q125Sql =
    s"""WITH ${phashPairCtes("documents")}
      |SELECT asset_a, asset_b, hamming FROM hp
      |WHERE hamming <= 1
      |ORDER BY asset_a, asset_b""".stripMargin

  // ---------------------------------------------------------------- q126
  /** Embedding outliers vs label centroid ([[graft.ops.Similarity
    * .centroidOutliers]]): exact integer distance² to the q123
    * fixed-point centroid; outlier iff dist²·n > 2·Σdist² per label
    * (cross-multiplied in DECIMAL(38,0)/HUGEINT — no division, no
    * rounding to disagree on). The mislabeled-vector cleaning pass
    * run before centroids or ANN lists are trusted. Oracle: the q123
    * centroid CTEs plus the same integer arithmetic. */
  private def q126(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.centroidOutliers(Tables.embeddings(s, dir))
      .orderBy("vec_id")

  private val q126Sql =
    s"""WITH $centroidCtes,
      |d AS (
      |  SELECT q.vec_id, q.label,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(len(qv)),
      |        i -> (qv[CAST(i+1 AS INTEGER)] - cv[CAST(i+1 AS INTEGER)])
      |           * (qv[CAST(i+1 AS INTEGER)] - cv[CAST(i+1 AS INTEGER)]))),
      |      (acc, x) -> acc + x) AS BIGINT) AS dist2
      |  FROM q JOIN c ON c.label = q.label
      |),
      |st AS (SELECT label, SUM(dist2) AS sumd, COUNT(*) AS nd FROM d GROUP BY label)
      |SELECT d.vec_id, d.label, d.dist2,
      |  (CAST(d.dist2 AS HUGEINT) * st.nd > 2 * st.sumd) AS is_outlier
      |FROM d JOIN st USING (label)
      |ORDER BY d.vec_id""".stripMargin

  // ---------------------------------------------------------------- q127
  /** Shard-manifest APPEND ([[graft.ops.Sharding.appendShards]]): the
    * writer-side increment loop mirroring q112's index append —
    * assign the base corpus, roll up its manifest, then place an
    * increment CONTINUING at the manifest's token offset (topping up
    * the last partial shard, opening fresh ones, never touching
    * existing shard files) and merge the manifests, content hashes
    * combining mod p. Oracle: two q115-style prefix-sum replays, the
    * increment's offset by a scalar subquery, and the rollup-merge
    * arithmetic. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val m0 = graft.ops.Sharding.shardManifest(graft.ops.Sharding.assignShards(
      docs.filter(col("doc_id") % 5 =!= 0), budget = 2000L))
    graft.ops.Sharding.appendShards(m0,
        docs.filter(col("doc_id") % 5 === 0), budget = 2000L)
      .orderBy("shard_id")
  }

  /** q115's (n_tok, rolling-fingerprint) scan CTE body, parametrized
    * by split predicate — shared by q127's two replay arms. */
  private def shardScanSql(pred: String): String =
    s"""SELECT doc_id,
       |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tok,
       |    CAST(list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(regexp_split_to_array(text, '\\s+'),
       |          t -> CAST(ascii(t) AS BIGINT)*131 + CAST(length(t) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS doc_fp
       |  FROM documents WHERE $pred""".stripMargin

  private val q127Sql =
    s"""WITH cb AS (
       |  ${shardScanSql("doc_id % 5 <> 0")}
       |),
       |pb AS (
       |  SELECT doc_id, n_tok, doc_fp,
       |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
       |  FROM cb
       |),
       |mb AS (
       |  SELECT start // 2000 AS shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |    CAST(SUM(doc_fp) % 1000000007 AS BIGINT) AS content_hash,
       |    MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |  FROM pb WHERE n_tok > 0 GROUP BY 1
       |),
       |off AS (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS o FROM mb),
       |ci AS (
       |  ${shardScanSql("doc_id % 5 = 0")}
       |),
       |pi AS (
       |  SELECT doc_id, n_tok, doc_fp,
       |    (SELECT o FROM off) + CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
       |  FROM ci
       |),
       |mi AS (
       |  SELECT start // 2000 AS shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |    CAST(SUM(doc_fp) % 1000000007 AS BIGINT) AS content_hash,
       |    MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |  FROM pi WHERE n_tok > 0 GROUP BY 1
       |),
       |u AS (SELECT * FROM mb UNION ALL SELECT * FROM mi)
       |SELECT shard_id, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(content_hash) % 1000000007 AS BIGINT) AS content_hash,
       |  MIN(first_doc) AS first_doc, MAX(last_doc) AS last_doc
       |FROM u GROUP BY shard_id
       |ORDER BY shard_id""".stripMargin

  // ---------------------------------------------------------------- q128
  /** Exact stratified eval split ([[graft.ops.Splits
    * .stratifiedSplit]]): per (source, lang) stratum, exactly
    * ⌊n/10⌋ held-out docs in deterministic hash order — where q50's
    * hash-bucket split only hits 10% in expectation and can miss a
    * small stratum entirely. Ranking is the q88 radix order
    * statistic composed over the stratum key (no stratum-sized
    * window partitions); the verdict is an integer cross-multiply.
    * Oracle: the HUGEINT Knuth hash (q106 spelling), a stratum
    * window rank, and the same integer quota arithmetic. */
  private def q128(s: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.stratifiedSplit(Tables.documents(s, dir),
        Seq("source", "lang"), heldNum = 1L, heldDen = 10L)
      .select("doc_id", "source", "lang", "hv", "rnk", "n_stratum", "split")
      .orderBy("doc_id")

  private val q128Sql =
    """WITH h AS (
      |  SELECT doc_id, source, lang,
      |    CAST((CAST(doc_id % 4294967296 AS HUGEINT) * 2654435761)
      |         % 4294967296 AS BIGINT) AS hv
      |  FROM documents
      |),
      |r AS (
      |  SELECT doc_id, source, lang, hv,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source, lang
      |      ORDER BY hv, doc_id) AS BIGINT) AS rnk,
      |    CAST(COUNT(*) OVER (PARTITION BY source, lang) AS BIGINT) AS n_stratum
      |  FROM h
      |)
      |SELECT doc_id, source, lang, hv, rnk, n_stratum,
      |  CASE WHEN rnk * 10 <= n_stratum * 1 THEN 'held' ELSE 'train' END AS split
      |FROM r
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q129
  /** Split-leakage repair ([[graft.ops.Dedup.repairSplitLeakage]]):
    * q111 AUDITS cross-split near-dup pairs; this FIXES them — any
    * near-dup cluster spanning splits moves entirely to train, docs
    * outside clusters keep their q50 hash split. Oracle: q111's
    * exact all-pairs layer, the q55 recursive-CTE components, the
    * HUGEINT-guarded split hash, and the per-cluster
    * distinct-split-count verdict. */
  private def q129(s: SparkSession, dir: String): DataFrame =
    Dedup.repairSplitLeakage(Tables.documents(s, dir),
        shingleSize = 3, maxJaccardDist = 0.4)
      .orderBy("doc_id")

  private val q129Sql =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents
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
      |sp AS (
      |  SELECT doc_id,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS orig_split
      |  FROM (SELECT doc_id,
      |    CAST((CAST(doc_id % 4294967296 AS HUGEINT) * 2654435761)
      |         % 4294967296 % 100 AS BIGINT) AS b FROM documents) t
      |),
      |cf AS (
      |  SELECT c.cluster, COUNT(DISTINCT s.orig_split) AS ns
      |  FROM comp c JOIN sp s ON s.doc_id = c.id GROUP BY 1
      |)
      |SELECT s.doc_id, s.orig_split,
      |  CASE WHEN cf.ns > 1 THEN 'train' ELSE s.orig_split END AS final_split,
      |  (CASE WHEN cf.ns > 1 THEN 'train' ELSE s.orig_split END) <> s.orig_split AS moved
      |FROM sp s
      |LEFT JOIN comp c ON c.id = s.doc_id
      |LEFT JOIN cf ON cf.cluster = c.cluster
      |ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------- q130
  /** Dedup with multiplicity ([[graft.ops.Dedup
    * .deduplicateWithMultiplicity]]): q55's survivors plus
    * `n_copies` — the mass each survivor represents (exact twins +
    * near-dup members), the count-aware-reweighting input where hard
    * dedup would silently discard duplication signal. Oracle: exact
    * group counts, the q55 CC replay, per-cluster count sums, and
    * the survivor-id-equals-cluster-label attach. */
  private def q130(s: SparkSession, dir: String): DataFrame =
    Dedup.deduplicateWithMultiplicity(Tables.documents(s, dir),
        maxJaccardDist = 0.4)
      .select(col("doc_id"), col("lang"), col("n_copies"))
      .orderBy("doc_id")

  private val q130Sql =
    """WITH RECURSIVE eg AS (
      |  SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS en
      |  FROM documents GROUP BY text
      |),
      |kept_exact AS (
      |  SELECT d.doc_id, d.lang, d.text, e.en
      |  FROM documents d JOIN eg e ON d.doc_id = e.doc_id
      |),
      |toks AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM kept_exact
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
      |ct AS (
      |  SELECT c.cluster, CAST(SUM(k.en) AS BIGINT) AS nc
      |  FROM comp c JOIN kept_exact k ON k.doc_id = c.id GROUP BY 1
      |)
      |SELECT k.doc_id, k.lang, CAST(COALESCE(ct.nc, k.en) AS BIGINT) AS n_copies
      |FROM kept_exact k
      |LEFT JOIN ct ON ct.cluster = k.doc_id
      |WHERE k.doc_id NOT IN (SELECT id FROM comp WHERE cluster < id)
      |ORDER BY k.doc_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q112_append_index_dedup", q112, Some(q112Sql)),
    QueryDef("q113_bpe_train", q113, Some(q113Sql)),
    QueryDef("q114_semantic_decon", q114, Some(q114Sql)),
    QueryDef("q115_shard_manifest", q115, Some(q115Sql)),
    QueryDef("q116_bpe_packing", q116, Some(q116Sql)),
    QueryDef("q117_stored_bpe", q117, Some(q113Sql)),
    QueryDef("q118_shuffled_packing", q118, Some(q118Sql)),
    QueryDef("q119_keepbest_dedup", q119, Some(q119Sql)),
    QueryDef("q120_dup_span_excision", q120, Some(q120Sql)),
    QueryDef("q121_source_vocab_overlap", q121, Some(q121Sql)),
    QueryDef("q122_target_affinity", q122, Some(q122Sql)),
    QueryDef("q123_label_centroid_sim", q123, Some(q123Sql)),
    QueryDef("q124_epoch_plan", q124, Some(q124Sql)),
    QueryDef("q125_phash_neardup", q125, Some(q125Sql)),
    QueryDef("q126_centroid_outliers", q126, Some(q126Sql)),
    QueryDef("q127_shard_append", q127, Some(q127Sql)),
    QueryDef("q128_stratified_split", q128, Some(q128Sql)),
    QueryDef("q129_split_repair", q129, Some(q129Sql)),
    QueryDef("q130_dedup_multiplicity", q130, Some(q130Sql)))
}
