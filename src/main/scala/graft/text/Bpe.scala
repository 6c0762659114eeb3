package graft.text

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.Release

/** Byte-Pair-Encoding merge TRAINING + application.
  *
  * [[Subword]] (q104) applies a frequency-derived piece vocabulary;
  * real tokenizers LEARN their merges (Sennrich et al. 2016, the
  * GPT/Llama tokenizer family). This is the bounded-round trainer:
  * starting from single characters, each round counts adjacent symbol
  * pairs across the corpus (weighted by word frequency), merges the
  * top pair everywhere (left-to-right, non-overlapping — the
  * standard BPE scan), and repeats k times. Ties break
  * deterministically by (count DESC, left ASC, right ASC), so the
  * learned merge list is a pure function of the corpus and the whole
  * operator is replayable by a SQL oracle (each round becomes one
  * generated CTE stage — the q73 pattern).
  *
  * Scale shape: ONE corpus scan builds the (word, count) vocabulary
  * (map-side-combined groupBy); every training round then runs on the
  * VOCABULARY-sized frame only (pair counting is an explode+groupBy
  * over distinct words, top-1 collected to the driver — the same
  * bounded-collect stance as centroid fits), and the merge itself is
  * a codegen'd `aggregate` HOF fold, no UDFs. Application to the
  * corpus is a single codegen'd map-only pass ([[BpeStatsExpr]], the
  * merge list riding the plan as a reference object). At 100 TB:
  * corpus cost = 1 scan for the vocab + 1 scan to apply; the k
  * training rounds never touch the corpus again.
  */
object Bpe {

  /** Learned merge list, in training order, with the standard
    * left-to-right non-overlapping apply. Serializable — ships with
    * the plan as a codegen reference object. */
  final class BpeMerges(val merges: IndexedSeq[(String, String)])
      extends Serializable {

    /** One merge pass over a symbol sequence: scan left to right;
      * at a (p,q) match emit p+q and skip both (non-overlapping). */
    private def mergeOnce(syms: java.util.ArrayList[String], p: String,
        q: String): java.util.ArrayList[String] = {
      val out = new java.util.ArrayList[String](syms.size)
      var i = 0
      val n = syms.size
      while (i < n) {
        if (i + 1 < n && syms.get(i) == p && syms.get(i + 1) == q) {
          out.add(p + q); i += 2
        } else { out.add(syms.get(i)); i += 1 }
      }
      out
    }

    /** Piece count of one word after applying every merge in order.
      * Symbols start as single CODE POINTS (not Java chars), matching
      * SQL `substr` semantics in both engines. Empty word → 0. */
    def pieces(word: String): Long = {
      if (word.isEmpty) return 0L
      var syms = new java.util.ArrayList[String](word.length)
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        syms.add(new String(Character.toChars(cp)))
        i += Character.charCount(cp)
      }
      var m = 0
      while (m < merges.length && syms.size > 1) {
        val (p, q) = merges(m)
        syms = mergeOnce(syms, p, q)
        m += 1
      }
      syms.size.toLong
    }

    /** Whole-text stats: [n_words, n_pieces]. Tokenizes on `\s+`
      * with limit -1 — the exact semantics of Spark SQL `split` and
      * the oracle's regexp_split_to_array (split artifacts count as
      * words with zero pieces). */
    def stats(text: String): Array[Long] = {
      val toks = text.split("\\s+", -1)
      var words = 0L
      var np = 0L
      var i = 0
      while (i < toks.length) {
        words += 1
        np += pieces(toks(i))
        i += 1
      }
      Array(words, np)
    }
  }

  /** Train `k` BPE merges on the corpus. Each round: pair counts over
    * the cached vocabulary frame (explode + map-side-combined sum),
    * top-1 by (count DESC, left, right) collected to the driver
    * (bounded: one row per round), merge applied as a codegen'd
    * `aggregate` fold on the symbol column. Stops early if the corpus
    * runs out of adjacent pairs (every word fully merged). */
  /** Codepoint-wise string order — equals Spark's UTF8String (UTF-8
    * byte) ordering, which the distributed trainer's orderBy uses for
    * the (count DESC, left, right) tie-break. Java String.compareTo is
    * UTF-16 code-UNIT order and disagrees for supplementary planes vs
    * [U+E000, U+FFFF], so the driver fast path must not use it. */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Driver-side merge loop over a collected (word, count) table —
    * bit-identical merges to the distributed loop (same pair counts,
    * same (count DESC, left, right) tie-break in codepoint order, same
    * left-to-right non-overlapping apply via [[BpeMerges.mergeOnce]]'s
    * logic), spec-pinned against it. k rounds over a bounded
    * vocabulary are microseconds here vs ~2k·(job + eager
    * localCheckpoint) Spark rounds (~64 driver round-trips at k=32 —
    * measured as the bulk of q221's battery cost). */
  private def fitDriver(wordCounts: Array[(String, Long)], k: Int): BpeMerges = {
    val syms = wordCounts.map { case (w, _) =>
      val out = new java.util.ArrayList[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out.add(new String(Character.toChars(cp)))
        i += Character.charCount(cp)
      }
      out
    }
    val cnts = wordCounts.map(_._2)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < k && !exhausted) {
      val pairCnt = new java.util.HashMap[(String, String), java.lang.Long]()
      var w = 0
      while (w < syms.length) {
        val s = syms(w)
        var i = 0
        while (i + 1 < s.size) {
          val key = (s.get(i), s.get(i + 1))
          val prev = pairCnt.get(key)
          pairCnt.put(key,
            (if (prev == null) 0L else prev.longValue) + cnts(w))
          i += 1
        }
        w += 1
      }
      if (pairCnt.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestC = -1L
        val it = pairCnt.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue.longValue
          if (c > bestC || (c == bestC && {
            val cl = cpCompare(e.getKey._1, best._1)
            cl < 0 || (cl == 0 && cpCompare(e.getKey._2, best._2) < 0)
          })) { best = e.getKey; bestC = c }
        }
        learned += best
        val (p, q) = best
        var w2 = 0
        while (w2 < syms.length) {
          val s = syms(w2)
          if (s.size >= 2) {
            val out = new java.util.ArrayList[String](s.size)
            var i = 0
            val n = s.size
            while (i < n) {
              if (i + 1 < n && s.get(i) == p && s.get(i + 1) == q) {
                out.add(p + q); i += 2
              } else { out.add(s.get(i)); i += 1 }
            }
            syms(w2) = out
          }
          w2 += 1
        }
      }
      round += 1
    }
    new BpeMerges(learned.toIndexedSeq)
  }

  def fit(docs: DataFrame, k: Int, textCol: String = "text",
      smallVocabThreshold: Int = 2000000): BpeMerges = {
    require(k >= 0 && k <= 64, "bounded-round trainer: 0 <= k <= 64")
    val counts = docs
      .select(explode(split(col(textCol), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    // BOUNDED-COLLECT fast path (round 21; the connectedComponents
    // smallGraphThreshold stance): training only ever reads the
    // vocabulary-sized (word, count) table, so when that table fits
    // the driver comfortably (2M words ≈ tens of MB collected, ≲1 GB
    // with the per-word symbol lists — inside the maxResultSize / 53g
    // driver floor), the k merge rounds run as a driver loop instead
    // of ~2k Spark jobs. limit(n+1) caps the transfer: n+1 rows back
    // means the vocab overflowed the gate and the distributed loop
    // below runs unchanged. Merges are bit-identical either way
    // (spec-pinned: BpeSpec driver-vs-distributed).
    if (smallVocabThreshold > 0) {
      val head = counts.limit(smallVocabThreshold + 1).collect()
      if (head.length <= smallVocabThreshold)
        return fitDriver(
          head.map(r => (r.getString(0), r.getLong(1))), k)
    }
    // localCheckpoint (eager), NOT cache: each round stacks a fold
    // projection on the previous round's frame, and under cache the
    // round-r LINEAGE is an r-deep nested-fold plan — re-analyzed and
    // re-optimized every round, superlinear in r (measured: k=16 took
    // 56 s where k=8 took 4 s, k=32 OOM'd an 8g driver). Truncating
    // lineage per round keeps every round's plan one projection deep,
    // so the merge count is a linear dial (q221 sweeps it to 32).
    var words = counts
      .withColumn("sym",
        transform(sequence(lit(1), length(col("tok"))),
          i => col("tok").substr(i, lit(1))))
      .localCheckpoint(true)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    var round = 0
    while (round < k && !exhausted) {
      val top = words.filter(size(col("sym")) >= 2)
        .select(col("cnt"),
          explode(transform(sequence(lit(1), size(col("sym")) - 1),
            i => struct(element_at(col("sym"), i).as("l"),
              element_at(col("sym"), i + 1).as("r")))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val p = top.head.getString(0)
        val q = top.head.getString(1)
        learned += ((p, q))
        // left-to-right non-overlapping merge as a fold: append unless
        // the accumulator's LAST symbol is p and the current is q —
        // a freshly merged p+q can never spuriously re-match as the
        // pair's left element (p+q = p would need q = ""), so no
        // just-merged flag is needed. CaseWhen evaluates branches in
        // order, so element_at never sees an empty accumulator.
        val merged = aggregate(col("sym"),
          array().cast("array<string>"),
          (acc, x) =>
            when(size(acc) === 0, array(x))
              .when(element_at(acc, size(acc)) === lit(p) && x === lit(q),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(p + q))))
              .otherwise(concat(acc, array(x))))
        val next = words.withColumn("sym", merged).localCheckpoint(true)
        // next is eagerly materialized; without the drop every round
        // pins its word/sym frame until driver GC (q221: ~60 rounds)
        Release.dropLocalCheckpoint(words)
        words = next
      }
      round += 1
    }
    Release.dropLocalCheckpoint(words) // only `learned` leaves this method
    new BpeMerges(learned.toIndexedSeq)
  }

  def statsCol(text: Column, merges: BpeMerges): Column =
    GraftBridge.ofExpr(BpeStatsExpr(GraftBridge.exprOf(text), merges))

  /** Persist a trained merge list — the tokenizer as a stored
    * artifact, same stance as [[graft.ops.Dedup.saveIndex]] and
    * [[graft.ops.Similarity.saveIvf]]: production trains once per
    * corpus refresh, and every downstream job (budgeting, packing,
    * sharding) LOADS the merges instead of re-scanning the corpus.
    * Stored as (merge_idx, left, right) parquet — order IS the
    * tokenizer, so the index column is explicit, never inferred from
    * file layout. */
  def saveMerges(merges: BpeMerges, dir: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    merges.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_idx", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Reload a stored merge list (driver-side: k rows by contract). */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
      dir: String): BpeMerges =
    new BpeMerges(
      spark.read.parquet(dir).select("merge_idx", "left", "right")
        .collect()
        .sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2)))
        .toIndexedSeq)

  /** Per-document BPE stats after training `k` merges on the same
    * corpus: (id, n_words, n_pieces). */
  /** [[bpeStats]] against a PRE-TRAINED (or prefix-truncated) merge
    * list — the q117 stored-tokenizer path's scoring half, and what
    * makes the q221 vocab sweep a SINGLE fit: greedy BPE training is
    * prefix-stable (round r depends only on rounds < r), so
    * `new BpeMerges(m.merges.take(k))` IS the k-merge tokenizer —
    * the engine-side twin of the oracle's one-chain-read-at-its-
    * prefixes replay (spec-pinned equal to a fresh fit(k)). */
  def bpeStatsWith(docs: DataFrame, m: BpeMerges,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), statsCol(col(textCol), m).as("__s"))
      .select(col(idCol),
        element_at(col("__s"), 1).as("n_words"),
        element_at(col("__s"), 2).as("n_pieces"))

  def bpeStats(docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val m = fit(docs, k, textCol)
    docs.select(col(idCol), statsCol(col(textCol), m).as("__s"))
      .select(col(idCol),
        element_at(col("__s"), 1).as("n_words"),
        element_at(col("__s"), 2).as("n_pieces"))
  }
}

/** Native Catalyst expression: text → [n_words, n_pieces] under a
  * trained merge list. Same zero-UDF stance as [[SubwordStatsExpr]];
  * the merges ride the plan as a codegen reference object. */
case class BpeStatsExpr(child: Expression, merges: Bpe.BpeMerges)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bpe_stats"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(merges.stats(input.asInstanceOf[UTF8String].toString))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", merges,
      classOf[Bpe.BpeMerges].getName)
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"$ref.stats($c.toString()))")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeStatsExpr =
    copy(child = newChild)
}
