package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.ops.Similarity

/** Round-19 battery additions: the PRODUCTION retrieval tier the
  * r18 measurements point at — residual-coded, Lloyd-booked,
  * IVF-routed batched ADC with its composed recall audit (q220), the
  * stored-Lloyd-codebook maintenance path (q222), and the salted
  * spelling of the ANN candidate join (q223). All
  * reference-scope-none LLM-pipeline extensions (SURVEY §8).
  */
object Round19 {

  private val slice8 = (v: String) =>
    s"$v[CAST(ss.s * 8 + 1 AS INT):CAST(ss.s * 8 + 8 AS INT)]"

  /** Quantized corpus + seeded coarse centroids + per-vector cell
    * ranks — the q209 routing prefix, restated here so round-19
    * queries do not reach into Round18's private blocks. `fit`
    * renders the FIT-population predicate for a qualified vec_id
    * column: the inline tiers fit on everything; q226 fits on the
    * base corpus only (the increment arrives against frozen frames). */
  private def routePrefixCtes(fit: String => String): String =
    s"""q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
       |  FROM embeddings
       |),
       |cent AS (
       |  SELECT qv AS cqv,
       |    ROW_NUMBER() OVER (ORDER BY
       |      ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id)
       |      AS cent_id
       |  FROM q
       |  WHERE ${fit("vec_id")}
       |  ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id
       |  LIMIT 16
       |),
       |rk_ad AS (
       |  SELECT a.vec_id AS vid, a.qv, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${Round16.d2Sql("a.qv", "c.cqv")}, c.cent_id) AS rk
       |  FROM q a CROSS JOIN cent c
       |),
       |cells AS (SELECT vid, cent_id FROM rk_ad WHERE rk = 1),
       |ss AS (SELECT CAST(u.s AS BIGINT) AS s FROM UNNEST(range(0, 8)) AS u(s))""".stripMargin

  // ---------------------------------------------------------------- q220
  /** COMPOSED production-tier recall ([[graft.ops.Similarity
    * .ivfAdcResidualLloydRecall]]): the r18 measurements said
    * residual coding buys nothing UNDER medoid books (q214) while one
    * Lloyd round buys +200 000 ppm recall@10 (q218) — this query runs
    * the system those results point at: IVF-routed BATCHED retrieval
    * (q215's tier) over RESIDUAL codes with a one-round integer-LLOYD
    * residual codebook and per-(query, cell) LUTs, audited per query
    * against the exact integer ranking with a filled (query × k)
    * grid. The oracle replays EVERY stage: routing, residuals, the
    * Lloyd round (assignment, HUGEINT floor-means, empty-code carry —
    * the q218 round block over residual slices), encode, per-cell
    * LUTs, the partitioned batch ranking, and the recall algebra. */
  private def q220(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val probes = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfAdcResidualLloydRecall(emb, probes, ks = Seq(1, 5, 10),
      nCents = 16, nProbe = 4, m = 8, nCodes = 16, rounds = 1)
  }

  /** The residual production tier replayed through its per-(query,
    * probe-cell) ADC sums `radc(qid, vec_id, adc_d2)` — shared by the
    * recall audit (q220), the two retrieval-row queries (q224 inline,
    * q225 stored: the storage hop must be invisible, so they answer
    * to the SAME replay), and — with the fit population restricted to
    * the base corpus — the append-maintenance query q226. `sub` is
    * the FIT population's residual slices (what the Lloyd round and
    * the seeded inits see); `asub` is EVERY vector's (what gets
    * encoded and served). */
  private[queries] def residualTierCtes(
      fit: String => String = _ => "TRUE", nProbe: Int = 4): String =
    s"""${residualFitPrefixCtes(fit)},
       |${Round18.lloydRoundCtes("rr", 1, "rb0")},
       |${residualQueryCtes(nProbe)},
       |${residualAdcCtes("", "rrb1")}""".stripMargin

  /** The residual tier's corpus-side prefix: routing, residuals,
    * residual slices (fit population `sub`, full population `asub`),
    * the seeded residual medoid init `rb0`. The corpus-sized frames
    * are pinned AS MATERIALIZED — q229 references them from four
    * round blocks, and DuckDB 1.0 inlines CTEs per reference site
    * (the q221 exponential-re-evaluation trap). */
  private[queries] def residualFitPrefixCtes(
      fit: String => String = _ => "TRUE"): String =
    s"""${routePrefixCtes(fit)},
       |resid AS MATERIALIZED (
       |  SELECT a.vec_id, c.cent_id AS cell,
       |    list_transform(range(len(a.qv)), i ->
       |      a.qv[CAST(i + 1 AS INT)] - ct.cqv[CAST(i + 1 AS INT)]) AS rv
       |  FROM q a JOIN cells c ON c.vid = a.vec_id
       |  JOIN cent ct ON ct.cent_id = c.cent_id
       |),
       |sub AS MATERIALIZED (
       |  SELECT r.vec_id, ss.s, ${slice8("r.rv")} AS sv FROM resid r, ss
       |  WHERE ${fit("r.vec_id")}),
       |asub AS MATERIALIZED (
       |  SELECT r.vec_id, ss.s, ${slice8("r.rv")} AS sv FROM resid r, ss),
       |rmed AS (
       |  SELECT rv, ROW_NUMBER() OVER (ORDER BY
       |      ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id)
       |    AS code
       |  FROM resid
       |  WHERE ${fit("vec_id")}
       |  ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id
       |  LIMIT 16
       |),
       |rb0 AS MATERIALIZED (
       |  SELECT ss.s, m.code, ${slice8("m.rv")} AS cv FROM rmed m, ss)""".stripMargin

  /** The residual tier's round-independent query-side frames: the
    * probe batch, its probed cells, the candidate lists, and the
    * per-(query, cell) residuals. */
  private[queries] def residualQueryCtes(nProbe: Int = 4): String =
    s"""probes AS (SELECT vec_id AS qid, qv AS pqv FROM q WHERE vec_id % 50 = 0),
       |qpc AS (SELECT vid AS qid, cent_id FROM rk_ad
       |        WHERE vid % 50 = 0 AND rk <= $nProbe),
       |candq AS (
       |  SELECT qp.qid, cl.vid FROM qpc qp
       |  JOIN cells cl ON cl.cent_id = qp.cent_id),
       |qres AS (
       |  SELECT qp.qid, qp.cent_id AS cell,
       |    list_transform(range(len(p.pqv)), i ->
       |      p.pqv[CAST(i + 1 AS INT)] - ct.cqv[CAST(i + 1 AS INT)]) AS qr
       |  FROM qpc qp JOIN cent ct ON ct.cent_id = qp.cent_id
       |  JOIN probes p ON p.qid = qp.qid
       |)""".stripMargin

  /** Encode + per-(query, cell) LUT + per-(query, candidate) ADC sums
    * under the codebook CTE `$book`, all names prefixed `$p` — the
    * per-round block q229 stamps out once per Lloyd round count
    * (p = "" reproduces the round-19 `renc`/`rlut`/`radc` names). */
  private[queries] def residualAdcCtes(p: String, book: String): String =
    s"""${p}renc AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT asub.vec_id, asub.s, b.code,
       |      ROW_NUMBER() OVER (PARTITION BY asub.vec_id, asub.s
       |        ORDER BY ${Round16.d2Sql("asub.sv", "b.cv")}, b.code) AS rk
       |    FROM asub JOIN $book b ON b.s = asub.s) WHERE rk = 1
       |),
       |${p}rlut AS (
       |  SELECT qres.qid, qres.cell, b.s AS s, b.code,
       |    ${Round16.d2Sql("qres.qr[CAST(b.s * 8 + 1 AS INT):CAST(b.s * 8 + 8 AS INT)]", "b.cv")} AS qd2
       |  FROM $book b, qres
       |),
       |${p}radc AS (
       |  SELECT cq.qid, a.vec_id, CAST(SUM(l.qd2) AS BIGINT) AS adc_d2
       |  FROM ${p}renc a
       |  JOIN cells cl ON cl.vid = a.vec_id
       |  JOIN candq cq ON cq.vid = a.vec_id
       |  JOIN ${p}rlut l ON l.qid = cq.qid AND l.cell = cl.cent_id
       |    AND l.s = a.s AND l.code = a.code
       |  GROUP BY cq.qid, a.vec_id
       |)""".stripMargin

  private val q220Sql =
    s"""WITH
       |${residualTierCtes()},
       |apxr AS (
       |  SELECT qid, vec_id, ar FROM (
       |    SELECT qid, vec_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY adc_d2, vec_id) AS BIGINT) AS ar
       |    FROM radc) WHERE ar <= 10
       |),
       |exr AS (
       |  SELECT p.qid, a.vec_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY p.qid
       |      ORDER BY ${Round16.d2Sql("a.qv", "p.pqv")}, a.vec_id) AS BIGINT)
       |      AS er
       |  FROM q a CROSS JOIN probes p
       |),
       |ks AS (SELECT CAST(u.k AS BIGINT) AS k FROM UNNEST([1, 5, 10]) AS u(k)),
       |hit AS (
       |  SELECT x.qid, k.k, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM exr e JOIN apxr x ON e.qid = x.qid AND e.vec_id = x.vec_id
       |  CROSS JOIN ks k
       |  WHERE e.er <= k.k AND x.ar <= k.k
       |  GROUP BY x.qid, k.k
       |)
       |SELECT p.qid AS query_id, k.k AS k,
       |  CAST(COALESCE(h.c, 0) AS BIGINT) AS n_overlap,
       |  CAST(COALESCE(h.c, 0) * 1000000 // k.k AS BIGINT) AS recall_ppm
       |FROM probes p CROSS JOIN ks k
       |LEFT JOIN hit h ON h.qid = p.qid AND h.k = k.k
       |ORDER BY query_id, k""".stripMargin

  // ---------------------------------------------------------------- q221
  /** TOKENIZER VOCAB-SIZE frontier: q204 reads fertility at ONE
    * inventory size per family; the sizing decision a tokenizer
    * choice is actually made on needs the CURVE — pieces-per-word by
    * language as the inventory grows. Sweeps WordPiece vocabN, BPE
    * merge count k, and unigram-LM vocabN over {4, 8, 16, 32} into
    * one (family, vocab_size, lang, n_words, n_pieces, fertility_ppm)
    * frame — the q213/q219 sweep pattern applied to the tokenizer
    * family's dial. Twelve tokenizer runs on the engine side (each a
    * driver-bounded fit + one codegen'd map-only pass); the oracle
    * replays all twelve machines in ONE WITH RECURSIVE: four greedy
    * WordPiece walks and four Viterbi DPs as per-size generated
    * blocks over the shared word stream, and — because BPE merges are
    * INCREMENTAL — a single 32-stage merge chain read at its
    * {4, 8, 16, 32} prefixes. */
  private def q221(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // n_unk beside the fertility axis (round-19 verdict ask #6): at
    // small vocabularies an un-segmentable word counts ONE piece, so
    // fertility alone UNDERSTATES small-vocab cost and saturates at
    // 1.0 once the word pool is covered — the UNK count is what
    // discriminates the families at both ends. WordPiece and unigram
    // already compute it per doc; BPE structurally never UNKs (char
    // fallback: every word splits to characters under zero merges).
    //
    // FITS (round-21 shape): every family trains once —
    //  - wordpiece: vocabTopN is a total (count DESC, token) order, so
    //    the top-4/8/16 vocabularies are PREFIXES of the top-32 read —
    //    one fit job instead of four (the BPE-prefix argument applied
    //    to the frequency vocab; output spec-pinned unchanged);
    //  - bpe: one 32-merge fit read at its prefixes (round 20), now on
    //    the bounded-collect driver loop (Bpe.fit fast path);
    //  - unigram: alphabets depend on the top-N vocab so the folds
    //    run per size, but all four read ONE collected word-count
    //    table (UnigramLm.fitAll — one job instead of four fits).
    val vocab32 = graft.ops.TextStats.vocabTopN(docs, 32)
      .orderBy("rank").collect().map(_.getString(1)).toIndexedSeq
    val bpe32 = graft.text.Bpe.fit(docs, k = 32)
    val uniVocabs = graft.text.UnigramLm.fitAll(docs, Seq(4, 8, 16, 32))
    // ONE corpus pass (round 21): the twelve per-machine map passes +
    // twelve lang joins + twelve aggregations collapse into a single
    // projection evaluating all twelve stats expressions per document,
    // exploded to (family, size) rows and aggregated once — same sums,
    // one scan (the before plan ran 12 scan→join→agg arms;
    // oracle-hash unchanged)
    val machines: Seq[Column] = Seq(4, 8, 16, 32).flatMap { n =>
      val wp = graft.text.Subword.statsCol(col("text"),
        graft.text.SubwordVocab.build(vocab32.take(n)))
      val bp = graft.text.Bpe.statsCol(col("text"),
        new graft.text.Bpe.BpeMerges(bpe32.merges.take(n)))
      val un = graft.text.UnigramLm.statsCol(col("text"), uniVocabs(n))
      def m(family: String, st: Column, unk: Column) =
        struct(lit(family).as("family"), lit(n.toLong).as("vocab_size"),
          element_at(st, 1).as("w"), element_at(st, 2).as("p"),
          unk.cast("long").as("u"))
      Seq(m("wordpiece", wp, element_at(wp, 3)),
        m("bpe", bp, lit(0L)),
        m("unigram", un, element_at(un, 3)))
    }
    docs.select(col("lang"), explode(array(machines: _*)).as("m"))
      .groupBy(col("m.family").as("family"),
        col("m.vocab_size").as("vocab_size"), col("lang"))
      .agg(sum("m.w").as("n_words"), sum("m.p").as("n_pieces"),
        sum("m.u").as("n_unk"))
      .select(col("family"), col("vocab_size"), col("lang"),
        col("n_words"), col("n_pieces"), col("n_unk"),
        expr("(CAST(n_pieces AS decimal(38,0)) * 1000000) div n_words")
          .as("fertility_ppm"))
      .orderBy("family", "vocab_size", "lang")
  }

  private val sizes = Seq(4, 8, 16, 32)

  private def wpSelect(n: Int): String =
    s"""SELECT 'wordpiece' AS family, CAST($n AS BIGINT) AS vocab_size,
       |  d.lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(p.np) AS BIGINT) AS n_pieces,
       |  CAST(SUM(p.unk) AS BIGINT) AS n_unk,
       |  CAST(CAST(SUM(p.np) AS HUGEINT) * 1000000
       |       // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS fertility_ppm
       |FROM words w JOIN perwordwp$n p USING (tok)
       |JOIN documents d ON d.doc_id = w.doc_id
       |GROUP BY d.lang""".stripMargin

  private def bpeSelect(n: Int): String =
    s"""SELECT 'bpe' AS family, CAST($n AS BIGINT) AS vocab_size, d.lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(CASE WHEN length(w.tok) = 0 THEN 0 ELSE f.np END)
       |    AS BIGINT) AS n_pieces,
       |  CAST(0 AS BIGINT) AS n_unk,
       |  CAST(CAST(SUM(CASE WHEN length(w.tok) = 0 THEN 0 ELSE f.np END)
       |       AS HUGEINT) * 1000000
       |       // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS fertility_ppm
       |FROM words w LEFT JOIN finb$n f ON w.tok = f.tok
       |JOIN documents d ON d.doc_id = w.doc_id
       |GROUP BY d.lang""".stripMargin

  private def uniSelect(n: Int): String =
    s"""SELECT 'unigram' AS family, CAST($n AS BIGINT) AS vocab_size,
       |  d.lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(CASE WHEN u.packed IS NULL THEN 1
       |                ELSE u.packed % 1048576 END) AS BIGINT) AS n_pieces,
       |  CAST(SUM(CASE WHEN u.packed IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_unk,
       |  CAST(CAST(SUM(CASE WHEN u.packed IS NULL THEN 1
       |                     ELSE u.packed % 1048576 END) AS HUGEINT)
       |       * 1000000
       |       // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS fertility_ppm
       |FROM uwords w JOIN uperwordun$n u ON u.tok = w.tok
       |JOIN documents d ON d.doc_id = w.doc_id
       |GROUP BY d.lang""".stripMargin

  private val q221Sql =
    s"""WITH RECURSIVE
       |${Round12.wordsCtes},
       |${sizes.map(n => Round12.subwordVocabCtes(s"wp$n", n)).mkString(",\n")},
       |${Round13.bpeChainCtes(32, sizes.map(n => (s"finb$n", n)))},
       |${Round17.unigramSharedCtes},
       |${sizes.map(n => Round17.unigramVocabCtes(s"un$n", n)).mkString(",\n")}
       |SELECT family, vocab_size, lang, n_words, n_pieces, n_unk,
       |  fertility_ppm
       |FROM (
       |${(sizes.map(wpSelect) ++ sizes.map(bpeSelect) ++
           sizes.map(uniSelect)).mkString("\nUNION ALL\n")})
       |ORDER BY family, vocab_size, lang""".stripMargin

  // ---------------------------------------------------------------- q222
  /** STORED Lloyd codebook round-trip ([[graft.ops.Similarity
    * .fitPqBooksLloyd]] → [[graft.ops.Similarity.savePq]] /
    * [[graft.ops.Similarity.loadPq]] → [[graft.ops.Similarity
    * .encodePqLloyd]]): q202 froze and reloaded the MEDOID book; q218
    * then measured that production should persist the LLOYD book
    * instead (+200 000 ppm recall@10). This is that maintenance path:
    * fit one integer Lloyd round on the base corpus (vec_id % 5 ≠ 0),
    * freeze, reload, encode the increment (vec_id % 5 = 0) against
    * the frozen frame. The oracle replays the seeded init over the
    * BASE subset, the Lloyd round (the q218 block over base slices),
    * and the increment's integer assignment — a refit sneaking in, a
    * drifted stored frame, or a float re-scale of the integer
    * codewords all change codes and fail the hash. */
  private def q222(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val inc = emb.filter(col("vec_id") % 5 === 0)
    val books = Similarity.fitPqBooksLloyd(base, m = 8, nCodes = 16,
      rounds = 1)
    val pqDir = Round11.freshScratchDirShared("graft_q222_lloyd_pq")
    Similarity.savePq(books, pqDir)
    val stored = Similarity.loadPq(s, pqDir)
    Similarity.encodePqLloyd(inc, stored)
  }

  private val q222Sql =
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
       |  FROM embeddings
       |),
       |base AS (SELECT * FROM q WHERE vec_id % 5 <> 0),
       |inc AS (SELECT * FROM q WHERE vec_id % 5 = 0),
       |ss AS (SELECT CAST(u.s AS BIGINT) AS s FROM UNNEST(range(0, 8)) AS u(s)),
       |med AS (
       |  SELECT qv, ROW_NUMBER() OVER (ORDER BY
       |      ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id)
       |    AS code
       |  FROM base
       |  ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id
       |  LIMIT 16
       |),
       |b0 AS (
       |  SELECT ss.s, m.code, ${slice8("m.qv")} AS cv FROM med m, ss),
       |sub AS (
       |  SELECT a.vec_id, ss.s, ${slice8("a.qv")} AS sv FROM base a, ss),
       |${Round18.lloydRoundCtes("st", 1, "b0")},
       |isub AS (
       |  SELECT a.vec_id, ss.s, ${slice8("a.qv")} AS sv FROM inc a, ss)
       |SELECT vec_id, s AS subspace, code FROM (
       |  SELECT isub.vec_id, isub.s, b.code,
       |    ROW_NUMBER() OVER (PARTITION BY isub.vec_id, isub.s
       |      ORDER BY ${Round16.d2Sql("isub.sv", "b.cv")}, b.code) AS rk
       |  FROM isub JOIN stb1 b ON b.s = isub.s) WHERE rk = 1
       |ORDER BY vec_id, subspace""".stripMargin

  // ---------------------------------------------------------------- q223
  /** SELECTIVELY SALTED ANN candidate join ([[graft.ops.Similarity
    * .ivfHardNegatives]] at numSalts = 8):
    * the r18 ann curve isolated the x30 mining variance to the
    * cell-keyed candidate join's contention-sensitive spill; numSalts
    * points the engine's own skew lever (q81's
    * [[graft.ops.SkewJoin]]) at it — a hot cell's candidates shard by
    * candidate-id hash, its probe rows replicate across shards, every
    * (probe, candidate) pair meets in exactly one shard. Round 19
    * measured salting every cell winning under contention but losing
    * 3.4× in the quietest window (the unconditional 8× probe fan-out
    * is pure overhead when no cell is hot), so the operator runs the
    * q136 skew audit first, salting ONLY the cells it flags, plain
    * join for the rest, union. Salted and unsalted are
    * result-identical BY CONSTRUCTION, and this query holds the
    * selective plan to the SAME oracle the unsalted miner
    * answers to (the q182 replay: seeded centroids, integer
    * assignment, probes, cross-label distances, per-query top-k) —
    * the packing changed, the answer must not. */
  private def q223(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfHardNegatives(Tables.embeddings(s, dir), k = 5,
      nCents = 16, nProbe = 4, numSalts = 8)

  private val q223Sql =
    s"""WITH
       |${Round16.ivfMinerCtes}
       |SELECT vec_id, rank, neg_id, dist2 FROM (
       |  SELECT qid AS vec_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY d2, cand) AS BIGINT) AS rank,
       |    cand AS neg_id, d2 AS dist2
       |  FROM cp) WHERE rank <= 5
       |ORDER BY vec_id, rank""".stripMargin

  // ---------------------------------------------------------------- q224
  /** Residual production-tier RETRIEVAL rows ([[graft.ops.Similarity
    * .ivfAdcTopKBatchResidual]]): q220 hash-checks the tier's RECALL
    * aggregate; this holds the raw serving output — every
    * (query_id, rank, vec_id, adc_d2) row — to a full hash oracle,
    * so a distance-sum drift that happened to preserve rank order
    * (which the recall algebra cannot see) still fails. Same replay
    * as q220 up through the per-(query, cell) ADC sums; the tail is
    * the partitioned top-10. */
  private def q224(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val probes = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfAdcTopKBatchResidual(emb, probes, k = 10,
      nCents = 16, nProbe = 4, m = 8, nCodes = 16, rounds = 1)
  }

  private def residualRowsSelect: String =
    s"""SELECT query_id, rank, vec_id, adc_d2 FROM (
       |  SELECT qid AS query_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY adc_d2, vec_id) AS BIGINT) AS rank,
       |    vec_id, adc_d2
       |  FROM radc) WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  private val q224Sql =
    s"""WITH
       |${residualTierCtes()}
       |$residualRowsSelect""".stripMargin

  // ---------------------------------------------------------------- q225
  /** STORED residual index, served ([[graft.ops.Similarity
    * .saveResidualIndex]] → [[graft.ops.Similarity
    * .serveResidualIndex]]): the whole production index frozen once —
    * integer centroids, the Lloyd residual codebook, codes
    * PARTITIONED BY CELL — then the batch served from the frozen
    * frames, with the probed cells collected (bounded) and pushed
    * into the code read as a STATIC partition filter: a 4-probe batch
    * against a 1000-cell stored corpus reads the probed directories,
    * never the corpus (the q97 layout story for the residual tier).
    * Identical SQL to q224 — the storage hop must be semantically
    * invisible, and the shared oracle is what proves it. */
  private def q225(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val probes = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idxDir = Round11.freshScratchDirShared("graft_q225_residx")
    Similarity.saveResidualIndex(emb, idxDir, nCents = 16, m = 8,
      nCodes = 16, rounds = 1)
    Similarity.serveResidualIndex(s, idxDir, probes, k = 10, nProbe = 4)
  }

  private val q225Sql = q224Sql

  // ---------------------------------------------------------------- q226
  /** Residual-index APPEND without refit ([[graft.ops.Similarity
    * .appendResidualIndex]]): the maintenance operation completing
    * the residual tier's q194/q112 stance — the index is fit and
    * frozen on the BASE corpus (vec_id % 5 ≠ 0), the increment
    * (vec_id % 5 = 0) is coarse-assigned against the frozen centroids
    * and encoded against the frozen Lloyd books, its codes append
    * into the existing cell partitions, and the batch is served from
    * the updated store. Every probe id is itself an increment vector
    * (multiples of 50 are multiples of 5), so the queries arrived
    * AFTER the fit — the daily-increment shape. The oracle replays
    * the tier with the FIT population restricted to base while
    * assignment, encode and serving cover everything — a refit
    * sneaking into the append path would re-key codes and
    * hash-mismatch. */
  private def q226(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val inc = emb.filter(col("vec_id") % 5 === 0)
    val probes = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idxDir = Round11.freshScratchDirShared("graft_q226_residx")
    Similarity.saveResidualIndex(base, idxDir, nCents = 16, m = 8,
      nCodes = 16, rounds = 1)
    Similarity.appendResidualIndex(s, inc, idxDir)
    Similarity.serveResidualIndex(s, idxDir, probes, k = 10, nProbe = 4)
  }

  private val q226Sql =
    s"""WITH
       |${residualTierCtes(c => s"$c % 5 <> 0")}
       |$residualRowsSelect""".stripMargin

  // ---------------------------------------------------------------- q227
  /** nProbe → recall FRONTIER for the RESIDUAL production tier: q213
    * drew the operating curve for the raw+medoid composition; the
    * tier a deployment now runs (q220's residual+Lloyd) needs ITS OWN
    * curve — per (nprobe, query, k) recall over nProbe ∈
    * {1, 2, 4, 8, 16} at fixed geometry, the dial read against
    * q215's measured n·nProbe/nCents scan cost. The oracle uses the
    * q213 soundness argument one level up: a candidate's residual ADC
    * distance depends only on (query, candidate's OWN cell), never on
    * the probe set, so the shared replay computes every (query,
    * candidate) sum ONCE at nProbe = nCents and re-restricts the
    * ranking per nProbe; the (probe × nprobe × k) grid is filled on
    * both sides. */
  private def q227(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val probes = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfAdcResidualLloydRecallSweep(emb, probes,
      ks = Seq(1, 5, 10), nCents = 16, nProbes = Seq(1, 2, 4, 8, 16),
      m = 8, nCodes = 16, rounds = 1)
  }

  private val q227Sql =
    s"""WITH
       |${residualTierCtes(nProbe = 16)},
       |nps AS (SELECT CAST(u.np AS BIGINT) AS np
       |        FROM UNNEST([1, 2, 4, 8, 16]) AS u(np)),
       |pcq AS (SELECT vid AS qid, cent_id, rk FROM rk_ad
       |        WHERE vid % 50 = 0),
       |candn AS (
       |  SELECT n.np, p.qid, c.vid FROM nps n
       |  JOIN pcq p ON p.rk <= n.np
       |  JOIN cells c ON c.cent_id = p.cent_id
       |),
       |apxr AS (
       |  SELECT np, qid, vec_id, ar FROM (
       |    SELECT cn.np, cn.qid, a.vec_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY cn.np, cn.qid
       |        ORDER BY a.adc_d2, a.vec_id) AS BIGINT) AS ar
       |    FROM radc a JOIN candn cn
       |      ON cn.qid = a.qid AND cn.vid = a.vec_id) WHERE ar <= 10
       |),
       |exr AS (
       |  SELECT p.qid, a.vec_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY p.qid
       |      ORDER BY ${Round16.d2Sql("a.qv", "p.pqv")}, a.vec_id) AS BIGINT)
       |      AS er
       |  FROM q a CROSS JOIN probes p
       |),
       |ks AS (SELECT CAST(u.k AS BIGINT) AS k FROM UNNEST([1, 5, 10]) AS u(k)),
       |hit AS (
       |  SELECT x.np, x.qid, k.k, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM exr e JOIN apxr x ON e.qid = x.qid AND e.vec_id = x.vec_id
       |  CROSS JOIN ks k
       |  WHERE e.er <= k.k AND x.ar <= k.k
       |  GROUP BY x.np, x.qid, k.k
       |)
       |SELECT n.np AS nprobe, p.qid AS query_id, k.k AS k,
       |  CAST(COALESCE(h.c, 0) AS BIGINT) AS n_overlap,
       |  CAST(COALESCE(h.c, 0) * 1000000 // k.k AS BIGINT) AS recall_ppm
       |FROM probes p CROSS JOIN nps n CROSS JOIN ks k
       |LEFT JOIN hit h ON h.np = n.np AND h.qid = p.qid AND h.k = k.k
       |ORDER BY nprobe, query_id, k""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q220_residual_lloyd_recall", q220, Some(q220Sql)),
    QueryDef("q221_tokenizer_vocab_frontier", q221, Some(q221Sql)),
    QueryDef("q222_stored_lloyd_encode", q222, Some(q222Sql)),
    QueryDef("q223_salted_negatives", q223, Some(q223Sql)),
    QueryDef("q224_residual_lloyd_batch", q224, Some(q224Sql)),
    QueryDef("q225_stored_residual_serve", q225, Some(q225Sql)),
    QueryDef("q226_residual_index_append", q226, Some(q226Sql)),
    QueryDef("q227_residual_nprobe_frontier", q227, Some(q227Sql)))
}
