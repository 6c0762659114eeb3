package graft.ops

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, BucketedRandomProjectionLSHModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.engine.Release

/** Similarity search over embedding columns (`array<float>`).
  *
  * All scalar math is Catalyst higher-order functions (zip_with /
  * aggregate) in double precision — codegen'd, no UDFs, map-only.
  * Two search paths:
  *   - [[bruteForceKnn]]: exact cosine top-k via TakeOrderedAndProject —
  *     O(n·d) scan, the correctness baseline; still the right choice
  *     when the query set is tiny (one broadcastable vector).
  *   - [[fitLsh]]/[[lshKnn]]: BucketedRandomProjectionLSH — at 100 TB
  *     the scan cost dominates, so candidate pruning via hash buckets
  *     turns full scans into bucket lookups (the IVF-style scale path).
  */
object Similarity {

  /** Σ aᵢ·bᵢ as double — sequential left fold, deterministic. One
    * imperative codegen pass ([[DotExpr]]), bit-identical to the
    * zip_with+aggregate HOF form but with zero per-evaluation
    * allocation — this is the innermost operation of every pair
    * verification and scan in the similarity stack. */
  def dot(a: Column, b: Column): Column =
    graft.engine.Columns.ofExpr(DotExpr(
      graft.engine.Columns.exprOf(a), graft.engine.Columns.exprOf(b)))

  /** Σ (aᵢ−bᵢ)² as double — the [[SqDistExpr]] companion of [[dot]],
    * same null semantics (length mismatch or null element → null). */
  def sqDist(a: Column, b: Column): Column =
    graft.engine.Columns.ofExpr(SqDistExpr(
      graft.engine.Columns.exprOf(a), graft.engine.Columns.exprOf(b)))

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact top-k by cosine against one query vector. Emits
    * (rank, vec_id, cosine); the plan is scan → project → top-k, no
    * shuffle beyond the final k-row ordered take. */
  def bruteForceKnn(embeddings: DataFrame, queryVec: Seq[Double], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = typedLit(queryVec)
    embeddings
      .withColumn("cosine", cosine(col(vecCol), q))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cosine").desc, col(idCol))))
      .select("rank", idCol, "cosine")
  }

  /** Seeded Euclidean LSH index over an array<float> column (vectors
    * are converted with ml.functions.array_to_vector, no UDF). */
  def fitLsh(embeddings: DataFrame, vecCol: String = "embedding",
      bucketLength: Double = 2.0, numHashTables: Int = 8,
      seed: Long = 42L): (DataFrame, BucketedRandomProjectionLSHModel) = {
    val withVec = embeddings.withColumn("vec", array_to_vector(col(vecCol)))
    val model = new BucketedRandomProjectionLSH()
      .setInputCol("vec").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(seed)
      .fit(withVec)
    (withVec, model)
  }

  /** IVF index handle: the centroid matrix (nLists × dim) plus the
    * per-list triangle-bound radii (max member distance to the list's
    * UNIT centroid) — both driver/broadcast-scale by construction.
    * Radii are a property of the INDEX, computed once at fit time and
    * reused by every [[exactIvfKnn]] probe decision. */
  final case class IvfModel(centroids: IndexedSeq[Seq[Double]],
      radii: Map[Int, Double] = Map.empty)

  private def unitCentroids(cents: IndexedSeq[Seq[Double]]): IndexedSeq[Seq[Double]] =
    cents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }

  /** Per-list radius to the UNIT centroid — one nLists-row aggregate.
    * The triangle bound holds for any reference point, so using the
    * unit-normalized centroid (where d² = 2 − 2·cos applies) is
    * sound. */
  private def listRadii(indexed: DataFrame, centsUnit: IndexedSeq[Seq[Double]],
      vecCol: String): Map[Int, Double] = {
    val spark = indexed.sparkSession
    val centroids = spark.createDataFrame(
      centsUnit.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("c_list", "centroid")
    indexed
      .select(col("ivf_list"), col(vecCol), l2Norm(col(vecCol)).as("nrm"))
      // zero-norm guard: dividing by a zero norm is an ANSI error (and
      // a NaN radius would silently SKIP the list in the triangle
      // filter even though its other members may hold true neighbors,
      // while the zero vector itself ranks first under brute force's
      // NaN cosine). Zero-norm members force radius +∞ instead —
      // their list always qualifies: exactness over pruning.
      .withColumn("unit", when(col("nrm") =!= 0.0,
        transform(col(vecCol), x => x.cast(DoubleType) / col("nrm"))))
      .join(broadcast(centroids), col("ivf_list") === col("c_list"))
      .groupBy(col("ivf_list"))
      .agg(max(when(col("nrm") === 0.0, lit(Double.PositiveInfinity))
        .otherwise(sqrt(sqDist(col("unit"), col("centroid"))))).as("radius"))
      .collect().map { r =>
        val d = r.getDouble(1)
        r.getInt(0) -> (if (d.isNaN) Double.PositiveInfinity else d)
      }.toMap
  }

  /** Squared Euclidean distance of a vector column to a literal
    * centroid — one imperative codegen pass ([[SqDistExpr]]). */
  private def sqDistTo(v: Column, c: Seq[Double]): Column =
    graft.engine.Columns.ofExpr(SqDistExpr(
      graft.engine.Columns.exprOf(v), graft.engine.Columns.exprOf(typedlit(c))))

  /** Native seeded centroid fit (hash-sampled seeds + a few Lloyd
    * passes), shared by [[fitIvf]] and [[nearestSameLabelIvf]] — an
    * MLlib KMeans costs several fixed-overhead jobs per fit while list
    * assignment only needs rough balance. Each Lloyd pass is one
    * posexplode + (list, dim) average with map-side combine: shuffle
    * rows = partitions × nLists × dim, independent of corpus size.
    * Assignment embeds the centroid matrix as codegen literals at
    * IVF-ish sizes and auto-switches to the broadcast-join + min_by
    * path above the literal budget (see [[assignLists]]). */
  def fitCentroids(df: DataFrame, vecCol: String, idCol: String,
      nLists: Int, seed: Long = 42L, lloydIters: Int = 2): IndexedSeq[Seq[Double]] = {
    var cents: IndexedSeq[Seq[Double]] = df
      .select(col(vecCol), xxhash64(col(idCol), lit(seed)).as("__h"))
      .orderBy(col("__h")).limit(nLists).collect()
      .map(_.getSeq[Double](0)).toIndexedSeq
    for (_ <- 0 until lloydIters) {
      val means = assignLists(df.select(col(vecCol)), vecCol, cents)
        .select(col("list"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        // exact decimal mean: a double avg's partial sums round
        // differently per partitioning, which would make the centroids
        // — and therefore q42's probe selection — partition-dependent.
        // 18 fractional digits keep the mean deterministic while the 20
        // integer digits absorb ~1e19 summed magnitude — no overflow-
        // to-null even at full-corpus list sizes
        .groupBy("list", "pos")
        .agg(avg(col("x").cast(DecimalType(38, 18))).cast(DoubleType).as("m"))
        .collect()
        .groupBy(_.getAs[Int]("list"))
        .map { case (l, rows) =>
          l -> rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("m")).toSeq }
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
    cents
  }

  /** Adds the argmin-centroid `list` column.
    *
    * Small centroid matrices (nLists × dim ≤ `maxLiteralCells`) embed
    * as codegen literals: distances materialize as an attribute first
    * so the argmin reads the array instead of re-evaluating nLists
    * folds, and array_position takes the FIRST minimum — a
    * deterministic tie-break. Above the threshold the literal plan
    * would blow past JVM method/constant-pool limits, so assignment
    * switches to a broadcast join against the centroid table plus a
    * min_by aggregation keyed on a transient row id — shuffle rows =
    * n × nLists narrow structs, the documented large-config path. The
    * (distance, list) lexicographic min_by reproduces the literal
    * path's first-minimum tie-break exactly. */
  def assignLists(df: DataFrame, vecCol: String,
      cents: IndexedSeq[Seq[Double]],
      maxLiteralCells: Int = 65536): DataFrame = {
    val dim = cents.headOption.map(_.length).getOrElse(0)
    if (cents.length.toLong * dim <= maxLiteralCells) {
      df.withColumn("__d", array(cents.map(c => sqDistTo(col(vecCol), c)): _*))
        .withColumn("list",
          (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int"))
        .drop("__d")
    } else {
      val spark = df.sparkSession
      val centDf = spark.createDataFrame(
        cents.zipWithIndex.map { case (c, i) => (i, c) })
        .toDF("__cl", "__cv")
      val keyed = df.withColumn("__rk", monotonically_increasing_id())
      val carried = df.columns.toSeq
      val scored = keyed.crossJoin(broadcast(centDf))
        .withColumn("__d", sqDist(col(vecCol), col("__cv")))
      scored.groupBy(col("__rk"))
        .agg(
          min_by(col("__cl"), struct(col("__d"), col("__cl"))).as("list"),
          carried.map(c => first(col(c)).as(c)): _*)
        .select((carried.map(col) :+ col("list").cast("int").as("list")): _*)
    }
  }

  /** IVF-style index: seeded centroids partition the corpus into
    * `nLists` inverted lists; a query probes only the `nProbe` lists
    * whose centroids are nearest. At 100 TB the cluster id becomes the
    * storage partition key, so a probe reads nProbe/nLists of the data
    * — the classic IVF-flat trade of recall for scan fraction, with
    * the centroid table (nLists × dim) broadcast-small by design. */
  def fitIvf(embeddings: DataFrame, nLists: Int = 16, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): (DataFrame, IvfModel) = {
    val asDouble = embeddings
      .withColumn("__v", transform(col(vecCol), x => x.cast(DoubleType)))
      .cache()
    val cents = fitCentroids(asDouble, "__v", idCol, nLists, seed)
    val indexed = assignLists(asDouble, "__v", cents)
      .withColumnRenamed("list", "ivf_list").drop("__v")
    // triangle-bound radii belong to the index: one nLists-row
    // aggregate at fit time (reading the still-cached input) instead
    // of one per query
    val radii = listRadii(indexed, unitCentroids(cents), vecCol)
    // the cache existed for the Lloyd passes and the radii aggregate
    // (all eager, done above); release it so repeated fits in a long
    // session don't accumulate executor storage. Consumers of
    // `indexed` recompute one cheap cast-map per scan — or cache
    // `indexed` themselves when they probe it repeatedly
    // (exactIvfKnn does).
    asDouble.unpersist(blocking = false)
    (indexed, IvfModel(cents, radii))
  }

  /** Cosine top-k probing only the nearest `nProbe` inverted lists. */
  def ivfKnn(indexed: DataFrame, model: IvfModel,
      queryVec: Seq[Double], k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // centroid ranking is driver-side: nLists rows, broadcast-scale
    val probeLists = model.centroids.zipWithIndex
      .sortBy { case (c, _) =>
        c.zip(queryVec).map { case (a, b) => (a - b) * (a - b) }.sum }
      .take(nProbe).map(_._2)
    bruteForceKnn(
      indexed.filter(col("ivf_list").isin(probeLists: _*)),
      queryVec, k, idCol, vecCol)
  }

  /** EXACT cosine top-k with adaptive IVF probing — equal to
    * [[bruteForceKnn]] on ANY input, by construction, while scanning
    * only the lists the triangle-inequality bound cannot rule out.
    *
    * Pass 1 probes the `nProbe0` lists nearest the query and takes its
    * provisional top-k with k-th cosine c_k. On the unit sphere
    * d² = 2 − 2·cos, so an unprobed list `c` (unit-centroid ĉ, radius
    * r_c = max member distance to ĉ) can hold a better-than-rank-k
    * vector only if ‖q̂ − ĉ‖ − r_c < d_k; only such lists are probed in
    * pass 2. Skipped lists provably contain only strictly-worse
    * cosines, so ties and tie-breaks are unaffected. On clusterable
    * data pass 2 touches few lists; on adversarial (uniform) data it
    * degrades toward a full scan but stays exact — the same contract
    * as [[nearestSameLabelIvf]]. Driver-side state is bounded: k
    * provisional rows, nLists radii, nLists centroid distances.
    *
    * The ranking cosine is the literally-same expression as
    * [[bruteForceKnn]]'s (dot of RAW vectors over norm product), so FP
    * rounding can never order a near-tie differently between the two. */
  def exactIvfKnn(indexedIn: DataFrame, model: IvfModel, queryVec: Seq[Double],
      k: Int, nProbe0: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // up to three passes read the index (radii fallback, provisional
    // top-k, final top-k): cache for the duration of the call and
    // release on exit — UNLESS the caller already persisted this very
    // frame, in which case both the cache() and the unpersist() must
    // be no-ops (Spark keys cache entries on the plan, so an
    // unpersist here would evict the CALLER's cache and force a full
    // index recompute on their next probe)
    val callerCached =
      indexedIn.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val indexed = if (callerCached) indexedIn else indexedIn.cache()
    val qn = math.sqrt(queryVec.map(x => x * x).sum)
    val qUnit = if (qn == 0.0) queryVec else queryVec.map(_ / qn)
    val centsUnit = unitCentroids(model.centroids)
    val qcDist = centsUnit.map(c =>
      math.sqrt(c.zip(qUnit).map { case (a, b) => val d = a - b; d * d }.sum))
    val probe0 = qcDist.zipWithIndex.sortBy(_._1).take(nProbe0 min qcDist.size)
      .map(_._2)

    // radii are part of the fitted model; fall back to a one-off
    // aggregate only for hand-built models that lack them
    val spark = indexed.sparkSession
    val radii =
      if (model.radii.nonEmpty) model.radii
      else listRadii(indexed, centsUnit, vecCol)

    // pass 1: provisional top-k from the initial probes (k rows)
    val pass1 = bruteForceKnn(
      indexed.filter(col("ivf_list").isin(probe0: _*)), queryVec, k, idCol, vecCol)
      .select(col("cosine")).collect().map(_.getDouble(0))
    // k-th best = the MINIMUM cosine of the provisional top-k
    // (order-independent — collect after a window need not keep sort)
    val dk =
      if (pass1.length < k || pass1.exists(_.isNaN)) Double.MaxValue
      else math.sqrt(math.max(0.0, 2.0 - 2.0 * pass1.min))

    // ε absorbs float rounding: an extra probe never hurts exactness,
    // a missed one would
    val eps = 1e-9
    val qualifying = centsUnit.indices
      .filterNot(probe0.contains)
      .filter(c => radii.get(c).exists(r => qcDist(c) - r < dk + eps))
    val result = bruteForceKnn(
      indexed.filter(col("ivf_list").isin((probe0 ++ qualifying): _*)),
      queryVec, k, idCol, vecCol)
    // materialize the ≤ k result rows locally (bounded by contract) so
    // the per-call cache can be released deterministically
    val rows = result.collect()
    if (!callerCached) indexed.unpersist(blocking = false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), result.schema)
  }

  /** Symmetric int8 quantization of an embedding column: returns
    * struct(scale double, q array<int> in [-127, 127]) with
    * scale = max|xᵢ| / 127 and qᵢ = floor(xᵢ/scale + 0.5).
    *
    * The 100 TB rationale: a float32 corpus shrinks 4× (and the
    * candidate-scan dot product becomes exact INTEGER arithmetic —
    * overflow-free up to dim ≈ 2⁴⁷), which is the standard first
    * lever for ANN memory/bandwidth at scale; re-rank survivors with
    * the full-precision [[dot]]. floor(x+0.5) is used instead of a
    * library round() so every engine reproduces the same codes
    * bit-for-bit (round() half-up/half-even conventions differ across
    * engines). A zero vector quantizes to all-zero codes (scale
    * guard), not an error. */
  def quantizeInt8(vec: Column): Column = {
    val d = transform(vec, x => x.cast(DoubleType))
    val rawScale = array_max(transform(d, x => abs(x))) / lit(127.0)
    val scale = when(rawScale === 0.0, lit(1.0)).otherwise(rawScale)
    // the scale must NOT be referenced inside the per-element lambda
    // (HOF lambdas get no subexpression elimination, so the array_max
    // underneath it would re-run per element — O(dim²) per row).
    // array_repeat evaluates it ONCE per row; zip_with then reads the
    // materialized element.
    val scaleArr = array_repeat(scale, size(vec))
    struct(
      rawScale.as("scale"),
      zip_with(d, scaleArr, (x, s0) => floor(x / s0 + lit(0.5)).cast("int")).as("q"))
  }

  /** Exact integer dot of two int8 code arrays, rescaled to the
    * approximate float dot: (Σ qaᵢ·qbᵢ) · scaleA · scaleB. */
  def quantizedDot(qa: Column, scaleA: Column, qb: Column, scaleB: Column): Column =
    aggregate(zip_with(qa, qb, (a, b) => (a * b).cast(LongType)), lit(0L), _ + _)
      .cast(DoubleType) * scaleA * scaleB

  /** int8-quantized cosine top-k vs the stored vector `queryId`: the
    * 4×-smaller scan path for ANN at corpus scale (q69). The probe row
    * broadcasts, scoring is [[quantizedDot]]'s exact integer
    * arithmetic (so the whole path replays bit-for-bit in SQL), and
    * top-k runs as `orderBy().limit(k)` — TakeOrderedAndProject's
    * per-partition bounded heaps, NOT a global window that would drag
    * the corpus into one sort task. Returns (rk, id) ranked 1..k by
    * descending score, ties to ascending id. */
  def quantizedKnn(emb: DataFrame, queryId: Long, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = emb.select(col(idCol), quantizeInt8(col(vecCol)).as("z"))
      .select(col(idCol), col("z.scale").as("scale"), col("z.q").as("qv"))
    val probe = q.filter(col(idCol) === queryId)
      .select(col("scale").as("qscale"), col("qv").as("qqv"))
    q.crossJoin(broadcast(probe))
      .select(col(idCol),
        quantizedDot(col("qv"), col("scale"), col("qqv"), col("qscale"))
          .as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col(idCol))))
      .select(col("rk"), col(idCol))
  }

  /** Native random-projection near-dup pairs: unit-normalize, compute
    * all bucket ids in one custom-expression pass, equi-join on
    * (table, bucket) — 3 longs per join row — then verify cosine (the
    * plain dot of unit vectors) on the distinct candidate set. Same
    * hash family as MLlib's BucketedRandomProjectionLSH but without
    * boxed-Vector bucket keys or a model fit. */
  def rpNearDupPairs(embeddings: DataFrame, minCosine: Double = 0.4,
      numTables: Int = 6, bucketLength: Double = 0.5, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.engine.Columns
    val unit = embeddings
      .select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"))
      .select(col(idCol),
        transform(col(vecCol), x => x.cast(DoubleType) / col("nrm")).as("unit"))
      .cache()
    val dim = unit.select(size(col("unit"))).limit(1).collect().head.getInt(0)
    val planes = RpBuckets.gaussianPlanes(numTables, dim, seed)
    val buckets = Columns.ofExpr(RpBucketsExpr(
      Columns.exprOf(col("unit")), planes, bucketLength))
    val banded = unit.withColumn("bks", buckets)
      .select(col(idCol), posexplode(col("bks")).as(Seq("tbl", "bucket")))
    val candidates = banded.alias("a").join(banded.alias("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("vec_a"), col(s"b.$idCol").as("vec_b"))
      .distinct()
    val ua = unit.select(col(idCol).as("vec_a"), col("unit").as("ua"))
    val ub = unit.select(col(idCol).as("vec_b"), col("unit").as("ub"))
    candidates.join(ua, "vec_a").join(ub, "vec_b")
      .select(col("vec_a"), col("vec_b"), dot(col("ua"), col("ub")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** EXACT nearest same-`blockCol` neighbor per vector, without the
    * all-pairs block join: IVF lists + triangle-inequality pruning.
    *
    * Cosine argmax on unit-normalized vectors is Euclidean argmin on
    * the unit sphere (d² = 2 − 2·cos), so the classic exact-IVF bound
    * applies: after a first pass that finds the best neighbor inside
    * the vector's own (block, list) cell, a different list `c` can
    * hold a closer point only if ‖q − centroid_c‖ − radius_c < d₁
    * (triangle inequality, with radius_c = max member distance to the
    * centroid within the same block). Only qualifying lists are
    * probed in pass 2, so the plan is: bounded within-cell join +
    * broadcast centroid pruning + a data-adaptive probe join — never
    * a structural |block|² join. Pruning effectiveness tracks how
    * clusterable the corpus is; in the worst case (uniform random
    * vectors) it degrades toward the block join but stays EXACT, so
    * the result is identical to the brute-force argmax for any input.
    *
    * At 100 TB: lists are the storage partition key, centroids are
    * broadcast (nLists × dim), pass-1 cells are ~n/(blocks·nLists)
    * rows, and probe fan-out is bounded by nLists per vector.
    * Returns (idCol, nn_id), one row per vector whose block has ≥2
    * members — same contract as [[Dedup.nearestSameLabel]]. */
  def nearestSameLabelIvf(embeddings: DataFrame, nLists: Int = 16,
      seed: Long = 42L, lloydIters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding", blockCol: String = "label"): DataFrame = {
    // Unit vectors drive ASSIGNMENT and the triangle bounds (where the
    // Euclidean↔cosine correspondence needs the unit sphere); the
    // ranking cosine itself is computed as dot(a,b)/(‖a‖·‖b‖) over the
    // RAW vectors — the literally-same expression shape as the
    // brute-force twin [[Dedup.nearestSameLabel]], so FP rounding can
    // never order a near-tie differently between the two operators.
    val unit = embeddings
      .select(col(idCol), col(blockCol), col(vecCol),
        l2Norm(col(vecCol)).as("nrm"))
      .withColumn("unit",
        transform(col(vecCol), x => x.cast(DoubleType) / col("nrm")))
      .cache()

    // Native list fit (see fitCentroids): centroid QUALITY only affects
    // how much the triangle bound prunes, never correctness, so the
    // hash-sampled-seed + Lloyd fit is enough — and skips several
    // fixed-cost MLlib jobs per invocation.
    val cents = fitCentroids(unit, "unit", idCol, nLists, seed, lloydIters)
    val assigned = assignLists(unit, "unit", cents)
      .select(col(idCol), col(blockCol), col(vecCol), col("nrm"),
        col("unit"), col("list"))
      .cache()
    val spark = embeddings.sparkSession
    val centroids = spark.createDataFrame(
      cents.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("c_list", "centroid")
    def eucl(a: Column, c: Column): Column =
      sqrt(graft.engine.Columns.ofExpr(SqDistExpr(
        graft.engine.Columns.exprOf(a), graft.engine.Columns.exprOf(c))))

    // per-(block, list) radius over members of THAT block only
    val listStats = assigned
      .join(broadcast(centroids), col("list") === col("c_list"))
      .groupBy(col(blockCol).as("s_block"), col("list").as("s_list"))
      .agg(max(eucl(col("unit"), col("centroid"))).as("radius"))

    // pass 1: exact argmax inside the vector's own (block, list) cell
    val a = assigned.alias("a")
    val b = assigned.alias("b")
    val pairs1 = a.join(b,
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col("a.list") === col("b.list") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("qid"), col(s"b.$idCol").as("cand"),
        (dot(col(s"a.$vecCol"), col(s"b.$vecCol")) /
          (col("a.nrm") * col("b.nrm"))).as("cos"))
    val best1 = pairs1.groupBy("qid").agg(max(col("cos")).as("best_cos"))

    // probe decision: broadcast-join each vector against every OTHER
    // list's centroid+radius in its block, keep lists the bound says
    // could still beat d₁ (ε absorbs float rounding — extra probes
    // never hurt exactness, missed ones would)
    val eps = 1e-9
    val probes = assigned
      .join(best1, col(idCol) === col("qid"), "left")
      .withColumn("d1",
        when(col("best_cos").isNull, lit(Double.MaxValue)).otherwise(
          sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("best_cos")))))
      .join(broadcast(centroids), col("c_list") =!= col("list"))
      .join(listStats,
        col(blockCol) === col("s_block") && col("c_list") === col("s_list"))
      .filter(eucl(col("unit"), col("centroid")) - col("radius") <
        col("d1") + lit(eps))
      .select(col(idCol).as("pid"), col(blockCol).as("p_block"),
        col(vecCol).as("p_vec"), col("nrm").as("p_nrm"), col("c_list").as("p_list"))

    // pass 2: exact cosine against members of the qualifying lists
    val m = assigned.alias("m")
    val pairs2 = probes.join(m,
        col("p_block") === col(s"m.$blockCol") && col("p_list") === col("m.list"))
      .select(col("pid").as("qid"), col(s"m.$idCol").as("cand"),
        (dot(col("p_vec"), col(s"m.$vecCol")) /
          (col("p_nrm") * col("m.nrm"))).as("cos"))

    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cand"))
    val result = pairs1.union(pairs2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid").as(idCol), col("cand").as("nn_id"))
      .cache()
    // materialize the (id, nn_id) result — two longs per vector, ~dim×
    // smaller than the unit/assigned inputs — then release the fat
    // caches. The one cache that survives the call is the returned
    // frame itself; callers running many invocations per session
    // should unpersist it (or clearCache) when done with the result.
    result.count()
    unit.unpersist(blocking = false)
    assigned.unpersist(blocking = false)
    result
  }

  /** ANN via LSH bucket pruning: neighbors of the vector with the given
    * id. Falls back to wider scans only when buckets are under-full
    * (MLlib semantics). */
  def lshKnn(embeddings: DataFrame, model: BucketedRandomProjectionLSHModel,
      id: Long, k: Int, idCol: String = "vec_id"): DataFrame = {
    val row = embeddings.filter(col(idCol) === id).select("vec").limit(1).collect()
    require(row.nonEmpty, s"no vector with $idCol=$id")
    val key = row.head.getAs[org.apache.spark.ml.linalg.Vector](0)
    model.approxNearestNeighbors(embeddings, key, k + 1).toDF()
      .filter(col(idCol) =!= id)
      .select(col(idCol), col("distCol").as("distance"))
      .orderBy("distance", idCol)
      .limit(k)
  }

  /** Persist a fitted IVF index as a stored artifact: the assigned
    * vectors land under `dir/lists` PARTITIONED BY ivf_list — one
    * directory per inverted list — and the model (centroids + triangle
    * radii) under `dir/model` as one tiny parquet. This is the ANN
    * twin of the dedup side's `saveIndex`/`loadIndex` (q90): fit once,
    * store, and every later query session probes the stored index
    * without re-clustering the corpus.
    *
    * The layout IS the scale story: [[exactIvfKnn]]'s probe filter
    * `ivf_list IN (…)` becomes a partition-pruning predicate on the
    * reloaded frame, so a 4-probe query against a 1000-list corpus
    * reads 4 directories — the scan is bounded by the lists probed,
    * not corpus size (plan-asserted in the spec). */
  def saveIvf(indexed: DataFrame, model: IvfModel, dir: String): Unit = {
    val spark = indexed.sparkSession
    // hash-distribute by the partition column before the partitioned
    // write (guide §6, round 21): without it every write task holds
    // rows of every list, so the layout lands as tasks×lists tiny
    // files — measured 2-7× the coalesced write cost at battery scale
    // and a per-serve listing tax; with it each list is one file per
    // holding task. Parallelism is bounded by the list count, which
    // is sized ~√n at scale (the nCents contract) — not a bottleneck.
    indexed.repartition(col("ivf_list"))
      .write.mode("overwrite").partitionBy("ivf_list")
      .parquet(s"$dir/lists")
    val rows = model.centroids.zipWithIndex.map { case (c, i) =>
      (i, c, model.radii.get(i))
    }
    spark.createDataFrame(rows).toDF("list", "centroid", "radius")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
  }

  /** Reload an index written by [[saveIvf]]. The returned frame reads
    * the partitioned list directories lazily — callers probing it
    * repeatedly may cache() it, but a single pruned probe should NOT
    * (caching materializes every list and defeats the pruning). */
  def loadIvf(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, IvfModel) = {
    val m = spark.read.parquet(s"$dir/model")
      .select("list", "centroid", "radius").collect()
      .map { r =>
        (r.getInt(0), r.getSeq[Double](1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      }.sortBy(_._1)
    val cents = m.map(_._2.toSeq).toIndexedSeq
    val radii = m.collect { case (i, _, Some(rad)) => i -> rad }.toMap
    (spark.read.parquet(s"$dir/lists"), IvfModel(cents, radii))
  }

  /** APPEND a batch to a stored IVF index WITHOUT refitting — the
    * maintenance operation a live 100 TB ANN index needs daily:
    * re-fitting centroids re-shuffles the whole corpus, while an
    * append is one map-only assignment of the increment against the
    * FROZEN centroid set plus a partitioned write into the existing
    * list directories (the [[graft.ops.Dedup]] q112 index-append
    * stance, applied to the vector index).
    *
    * Correctness hinges on the radii: [[exactIvfKnn]]'s
    * triangle-inequality pruning is exact only while each stored
    * radius upper-bounds every member's distance to its unit
    * centroid. Appended vectors can only GROW a list's true radius,
    * so the model is rewritten with the cell-wise max of the stored
    * radii and the increment's (the same merge-by-max algebra as the
    * q173 HLL registers); a list a stale radius under-covered would
    * silently drop true neighbors — which is exactly what the q196
    * oracle (brute-force equivalence) would catch.
    *
    * Frozen centroids trade assignment optimality for zero refit
    * cost: exactness is UNAFFECTED (adaptive probing is exact under
    * ANY assignment), only pruning efficiency drifts as the data
    * distribution moves — the standard IVF maintenance contract
    * (re-fit when probe fan-out degrades, not on every batch). */
  def appendIvf(spark: org.apache.spark.sql.SparkSession,
      increment: DataFrame, dir: String,
      vecCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    val (_, model) = loadIvf(spark, dir) // model rows are collected eagerly
    val asDouble = increment
      .withColumn("__v", transform(col(vecCol), x => x.cast(DoubleType)))
    val assigned = assignLists(asDouble, "__v", model.centroids)
      .withColumnRenamed("list", "ivf_list").drop("__v")
      .cache() // two consumers: radii aggregate + the append write
    val incRadii = listRadii(assigned, unitCentroids(model.centroids), vecCol)
    val merged = (model.radii.keySet ++ incRadii.keySet).map { l =>
      l -> math.max(model.radii.getOrElse(l, 0.0), incRadii.getOrElse(l, 0.0))
    }.toMap
    // same hash-distribution as [[saveIvf]] — an increment otherwise
    // appends tasks×lists small files per batch (guide §6)
    assigned.repartition(col("ivf_list"))
      .write.mode("append").partitionBy("ivf_list")
      .parquet(s"$dir/lists")
    assigned.unpersist(blocking = false)
    val rows = model.centroids.zipWithIndex.map { case (c, i) =>
      (i, c, merged.get(i))
    }
    spark.createDataFrame(rows).toDF("list", "centroid", "radius")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
  }

  /** SemDeDup-style semantic deduplication: partition the corpus into
    * `nClusters` Voronoi cells around hash-sampled seed points, then
    * mark as a duplicate every vector whose cosine to a LOWER-id vector
    * in the SAME cell reaches `minCosine` (greedy lowest-id-survives —
    * the star convention the MinHash funnel's skew guard uses).
    * Returns one row per input vector: (idCol, cluster, kept, dup_of)
    * where dup_of is the smallest qualifying lower id (null ⇔ kept).
    *
    * Clustering is the SemDeDup recall tradeoff made explicit:
    * cross-cell near-dups are never compared, in exchange for the
    * all-pairs stage being cell-local — candidate volume is
    * Σ|cell|²/2 instead of n²/2, and the only wide exchange is the
    * self-join keyed on (cluster). At 100 TB, scale `nClusters` ∝ n
    * so cells hold ~10³-10⁴ vectors and each join task stays bounded;
    * assignment itself is a map-only codegen pass (the centroid matrix
    * is embedded as literals — [[assignLists]]).
    *
    * Seeds are the `nClusters` lowest full-32-bit Knuth id-hashes
    * ([[graft.ops.Splits.hashBucketN]], ties by id) rather than
    * [[fitCentroids]]'s xxhash64 draw, and Lloyd refinement is skipped:
    * both choices keep every arithmetic step (seed draw, squared
    * distances, unit-normalization, cosines — all documented
    * left-to-right folds) bit-replayable in the DuckDB oracle, which a
    * decimal-avg Lloyd pass is not (Spark's decimal `avg` rounding has
    * no DuckDB twin). The Lloyd-refined assignment path is exercised
    * and oracle-checked by q42's exact-IVF equivalence instead. */
  def semanticDeduplicate(embeddings: DataFrame, nClusters: Int = 16,
      minCosine: Double = 0.4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val asDouble = embeddings
      .select(col(idCol), col(vecCol),
        transform(col(vecCol), x => x.cast(DoubleType)).as("__v"),
        Splits.hashBucketN(col(idCol), 1L << 32).as("__h"))
    val cents: IndexedSeq[Seq[Double]] = asDouble
      .orderBy(col("__h"), col(idCol)).limit(nClusters)
      .select("__v").collect().map(_.getSeq[Double](0)).toIndexedSeq
    // norm as an attribute first (see rpNearDupPairs): unitᵢ = xᵢ/√Σxᵢ²
    // with the fold order the q43 oracle already replays bit-exactly
    val assigned = assignLists(asDouble, "__v", cents)
      .select(col(idCol), col("list").as("cluster"),
        l2Norm(col(vecCol)).as("__nrm"), col(vecCol))
      .select(col(idCol), col("cluster"),
        transform(col(vecCol), x => x.cast(DoubleType) / col("__nrm")).as("__u"))
    val a = assigned.select(col("cluster"), col(idCol).as("__ida"),
      col("__u").as("__ua"))
    val b = assigned.select(col("cluster"), col(idCol).as("__idb"),
      col("__u").as("__ub"))
    val dupOf = a.join(b,
        a("cluster") === b("cluster") && col("__ida") < col("__idb"))
      .filter(dot(col("__ua"), col("__ub")) >= minCosine)
      .groupBy(col("__idb").as(idCol))
      .agg(min(col("__ida")).as("dup_of"))
    assigned.select(col(idCol), col("cluster"))
      .join(dupOf, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
  }

  /** SEMANTIC decontamination: flag every corpus vector whose maximum
    * cosine against ANY benchmark vector reaches `minCosine` — the
    * paraphrase-leakage net that n-gram decontamination
    * ([[graft.ops.Dedup.contaminationScores]] and kin) cannot catch:
    * a reworded benchmark answer shares no 13-gram but sits next to
    * its source in embedding space.
    *
    * EXACT by construction, like [[exactIvfKnn]]: the corpus is IVF-
    * indexed, and a list is scanned only if the triangle bound says it
    * COULD contain a vector within distance √(2−2·minCosine) of some
    * benchmark unit vector (‖b̂ − ĉ‖ − r_c < dτ + ε, radii from the
    * fitted model) — skipped lists provably hold only sub-threshold
    * cosines, so recall is 1 and the exact all-pairs SQL is a true
    * oracle. With `storageDir` set, the index round-trips through the
    * [[saveIvf]] partitioned layout first, and the list filter becomes
    * a partition-pruning predicate on the stored table — at 100 TB the
    * scan reads only the list directories near the benchmark set, and
    * the benchmark probe itself is a map-only codegen pass
    * ([[BenchMaxCosExpr]], nBench·dim multiplies per surviving row, no
    * shuffle, no UDF). The benchmark set is collected to the driver —
    * bounded by contract (eval suites are thousands of vectors;
    * `maxBench` fails fast on misuse with a corpus-sized frame).
    *
    * Returns (idCol, bench_id, max_cos) for flagged corpus vectors:
    * max_cos = exact max cosine, bench_id = smallest benchmark id
    * attaining it. Cosine IEEE sequence: widen float→double,
    * unitᵢ = xᵢ/√Σxᵢ² left to right, Σ unitᵢ·b̂ᵢ left to right (the
    * q43-documented order), replayed verbatim by the oracle. */
  def benchContamination(corpus: DataFrame, bench: DataFrame,
      minCosine: Double, nLists: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      storageDir: Option[String] = None, maxBench: Int = 65536): DataFrame = {
    val benchRows = bench.select(col(idCol), col(vecCol))
      .limit(maxBench + 1).collect()
    require(benchRows.length <= maxBench,
      s"benchmark set exceeds maxBench=$maxBench — benchContamination " +
        "broadcasts the benchmark side; pass the corpus as `corpus`")
    val benchSorted = benchRows.map { r =>
      // Row.getSeq materializes as mutable.ArraySeq — a collection.Seq,
      // NOT the default (immutable) Seq alias
      val raw = r.get(1) match {
        case s: scala.collection.Seq[_] => s.map {
          case f: java.lang.Float  => f.toDouble
          case d: java.lang.Double => d.doubleValue()
        }.toArray
      }
      (r.getLong(0), raw)
    }.sortBy(_._1)
    val benchUnits = benchSorted.map { case (id, raw) =>
      var ss = 0.0
      raw.foreach(x => ss += x * x)
      val n = math.sqrt(ss)
      (id, if (n == 0.0) raw else raw.map(_ / n))
    }
    val benchSet = new BenchSet(benchUnits.map(_._1), benchUnits.map(_._2))

    val (indexed, model) = fitIvf(corpus, nLists, vecCol = vecCol, idCol = idCol)
    val (probed, mdl) = storageDir match {
      case Some(dir) => saveIvf(indexed, model, dir); loadIvf(corpus.sparkSession, dir)
      case None      => (indexed, model)
    }
    // triangle-bound list pruning, driver-side: nLists × nBench scalar
    // work. dτ on the unit sphere; ε absorbs float rounding (an extra
    // scanned list never hurts exactness, a skipped one would).
    val dTau = math.sqrt(math.max(0.0, 2.0 - 2.0 * minCosine))
    val eps = 1e-9
    val centsUnit = mdl.centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }
    val surviving = centsUnit.indices.filter { ci =>
      val r = mdl.radii.getOrElse(ci, Double.PositiveInfinity)
      benchUnits.exists { case (_, b) =>
        val d = math.sqrt(centsUnit(ci).zip(b)
          .map { case (x, y) => val dd = x - y; dd * dd }.sum)
        d - r < dTau + eps
      }
    }
    val mc = graft.engine.Columns.ofExpr(BenchMaxCosExpr(
      graft.engine.Columns.exprOf(col(vecCol)), benchSet))
    probed
      .filter(col("ivf_list").isin(surviving: _*))
      .select(col(idCol), mc.as("__m"))
      .filter(col("__m").isNotNull && col("__m").getField("max_cos") >= minCosine)
      .select(col(idCol), col("__m").getField("bench_id").as("bench_id"),
        col("__m").getField("max_cos").as("max_cos"))
  }

  /** Pairwise cosine between GROUP CENTROIDS — the embedding-space
    * companion to [[graft.ops.TextStats.sourceVocabOverlap]]: where
    * that measures lexical overlap between feeds, this measures
    * whether two labeled populations occupy the same REGION of
    * embedding space ("are these two domains semantically the same
    * corpus?"), the signal semantic mixture design and SemDeDup-style
    * cluster auditing read.
    *
    * Exactness design: float sums across rows are partitioning-
    * dependent (IEEE addition is not associative), so each component
    * is QUANTIZED to an exact integer (·10⁶, floor) BEFORE any
    * cross-row aggregation — integer sums commute, so the per-label
    * sums are bit-stable under any shuffle order and replayable by a
    * SQL oracle. The fixed-point mean (floor(sum/n), computed in
    * doubles that stay exact below 2^53 — corpus bound n·3·10⁵ per
    * dimension, ≈ 3·10¹⁰ vectors per label) bounds every downstream
    * product regardless of label size, and the final cosine is
    * row-local IEEE math on those exact integers: deterministic in
    * both engines.
    *
    * Scale shape: one posexplode → (label, dim)-keyed sum with
    * map-side combine (dims are bounded, so the exchange is
    * labels·dims rows); the pairwise join runs over the L-row
    * centroid frame — broadcast, O(L²) output for an enumerable
    * label set. */
  def labelCentroidSimilarity(emb: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding", quantScale: Double = 1e6): DataFrame = {
    val cents = quantizedCentroids(emb, labelCol, vecCol, quantScale)
    val a = cents.select(col("__lab").as("label_a"), col("__n").as("n_a"),
      col("__c").as("__ca"))
    val b = cents.select(col("__lab").as("label_b"), col("__n").as("n_b"),
      col("__c").as("__cb"))
    val dot = aggregate(zip_with(col("__ca"), col("__cb"), (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
    def n2(c: Column) = aggregate(transform(c, x => x * x),
      lit(0L), (acc, v) => acc + v)
    broadcast(a).join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        (dot.cast(DoubleType) /
          (sqrt(n2(col("__ca")).cast(DoubleType)) *
            sqrt(n2(col("__cb")).cast(DoubleType)))).as("cosine"))
  }

  /** Quantize each component to an exact integer (·quantScale, floor)
    * and aggregate per-label fixed-point centroid means — the shared
    * bit-stable centroid frame of [[labelCentroidSimilarity]] and
    * [[centroidOutliers]]: (\_\_lab, \_\_n, \_\_c) with `__c` the
    * dim-ordered BIGINT mean vector. See [[labelCentroidSimilarity]]
    * for the exactness argument. */
  private def quantizedCentroids(emb: DataFrame, labelCol: String,
      vecCol: String, quantScale: Double): DataFrame = {
    val qv = quantized(vecCol, quantScale)
    val sums = emb
      .select(col(labelCol).as("__lab"), posexplode(qv).as(Seq("__pos", "__v")))
      .groupBy(col("__lab"), col("__pos")).agg(sum(col("__v")).as("__s"))
    val counts = emb.groupBy(col(labelCol).as("__labn"))
      .agg(count(lit(1)).as("__n"))
    // exact floor division on the Long sum: floorDiv(s, n) spelled as
    // (s - pmod(s, n)) div n (n = count > 0, so pmod is the true
    // non-negative remainder and the div is exact) — a Double
    // round-trip is only exact while |sum| < 2^53, and quantScale is
    // caller-tunable, so large scales or large-magnitude embeddings
    // would silently break the bit-replayability contract
    sums.join(counts, col("__lab") === col("__labn"))
      .select(col("__lab"), col("__pos"), col("__n"),
        expr("(__s - pmod(__s, __n)) div __n").cast(LongType).as("__m"))
      .groupBy(col("__lab"), col("__n"))
      .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__m")))),
        st => st("__m")).as("__c"))
  }

  private def quantized(vecCol: String, quantScale: Double): Column =
    transform(col(vecCol),
      x => floor(x.cast(DoubleType) * lit(quantScale)).cast(LongType))

  /** Embedding OUTLIER detection against the label centroid: each
    * vector's exact integer squared distance to its label's
    * fixed-point centroid, flagged as an outlier when its distance²
    * exceeds `factor` × the label's mean distance² — mislabeled or
    * noise vectors, the cleaning pass embedding-keyed curation runs
    * before centroids/ANN indexes are trusted. The verdict is pure
    * integer arithmetic: `dist2 · n > factor · Σ dist2` cross-
    * multiplies instead of dividing, so there is no rounding to
    * disagree on — bit-replayable at any partitioning, like the
    * centroids themselves ([[labelCentroidSimilarity]]'s quantize-
    * before-aggregate argument).
    *
    * Scale shape: centroids are a labels×dims aggregation; the
    * per-vector pass joins the L-row centroid frame (broadcast) and
    * computes one zip_with fold — map-only over the corpus. The
    * mean-distance stats are a second L-row broadcast. */
  def centroidOutliers(emb: DataFrame, labelCol: String = "label",
      idCol: String = "vec_id", vecCol: String = "embedding",
      factor: Long = 2L, quantScale: Double = 1e6): DataFrame = {
    require(factor >= 1L)
    val cents = quantizedCentroids(emb, labelCol, vecCol, quantScale)
    val d = emb
      .select(col(idCol), col(labelCol), quantized(vecCol, quantScale).as("__q"))
      .join(broadcast(cents), col(labelCol) === col("__lab"))
      .select(col(idCol), col(labelCol),
        aggregate(zip_with(col("__q"), col("__c"), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v).as("dist2"))
    // DECIMAL(38,0) keeps the sum and the cross-multiply EXACT at any
    // label size (BIGINT would overflow past ~4·10⁵ vectors/label at
    // this quantScale); DuckDB's SUM(BIGINT) → HUGEINT is its twin
    val stats = d.groupBy(col(labelCol).as("__labs"))
      .agg(sum(col("dist2").cast(DecimalType(38, 0))).as("__sumd"),
        count(lit(1)).as("__nd"))
    d.join(broadcast(stats), col(labelCol) === col("__labs"))
      .select(col(idCol), col(labelCol), col("dist2"),
        (col("dist2").cast(DecimalType(38, 0)) * col("__nd") >
          lit(factor) * col("__sumd")).as("is_outlier"))
  }

  /** HARD-NEGATIVE mining for contrastive training: each vector's
    * `k` nearest neighbors among vectors of a DIFFERENT label — the
    * near-but-wrong examples a retrieval/embedding trainer pairs with
    * its positives (same machinery as [[Dedup.nearestSameLabel]]'s
    * q22 twin, label predicate inverted, top-k instead of top-1).
    * Distances are exact integer squared distances on fixed-point
    * quantized vectors (the [[centroidOutliers]] quantize idiom), so
    * ranking is bit-replayable — no IEEE summation order to disagree
    * on. Ties rank (dist2 asc, id asc).
    *
    * Shape at scale: the cross-label pair stream is the exact-kNN
    * quadratic — inherent to the EXACT contract — but each task's
    * slice reduces to k entries in the bounded-heap [[TopKAgg]]
    * BEFORE the exchange (shuffle = n·k rows, never n²), and the
    * label-inequality join itself broadcasts the smaller side under
    * AQE. For approximate mining at 100 TB swap the candidate stream
    * for the IVF probe path ([[ivfKnn]]); this operator is the
    * ground-truth end of that recall curve. dist2 < 2⁵³ is required
    * for the heap's Double ordering key to stay exact — with the
    * default 1e4 scale and unit-normalized 64-dim embeddings the
    * bound is 64·(2·1e4)² ≈ 2.6·10¹⁰, three orders inside it.
    *
    * Returns (idCol, rank, neg_id, dist2) ordered by (idCol, rank). */
  def hardNegatives(emb: DataFrame, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", quantScale: Double = 1e4): DataFrame = {
    require(k >= 1)
    // quantization + distance fused into one codegen'd pass
    // ([[QuantSqDistExpr]]): the HOF spelling's "pre-computed"
    // quantized arrays collapse into the pair-join projection and
    // allocate three boxed arrays PER PAIR — measured 43.3 s → 4.6 s
    // on the sf0.1 battery slot for identical integer results
    val q = emb.select(col(idCol).as("__id"), col(labelCol).as("__lab"),
      col(vecCol).as("__v"))
    val a = q.alias("a"); val b = q.alias("b")
    a.join(b, col("a.__lab") =!= col("b.__lab"))
      .select(col("a.__id").as("__qid"), col("b.__id").as("__cand"),
        graft.engine.Columns.ofExpr(QuantSqDistExpr(
          graft.engine.Columns.exprOf(col("a.__v")),
          graft.engine.Columns.exprOf(col("b.__v")), quantScale))
          .as("__d2"))
      .groupBy(col("__qid"))
      .agg(TopKAgg.topK(col("__d2"), col("__cand"), k, largest = false).as("tk"))
      .select(col("__qid").as(idCol), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as("neg_id"), col("e.ord").cast(LongType).as("dist2"))
      .orderBy(col(idCol), col("rank"))
  }

  /** APPROXIMATE hard-negative mining — [[hardNegatives]]'s n² exact
    * cross-label pair stream swapped for the IVF candidate shape its
    * scaladoc names as the 100 TB path: every vector is assigned to
    * the nearest of `nCents` centroids; a query's candidates are the
    * different-label vectors in its `nProbe` nearest cells; survivors
    * are EXACTLY re-ranked with the same codegen'd integer
    * [[QuantSqDistExpr]] and the same bounded [[TopKAgg]] heap, so on
    * the candidates it does examine the ranking is bit-identical to
    * the exact operator (recall@k against it is the honest quality
    * metric — q182 audits exactly that, the q135 int8-vs-exact
    * pattern).
    *
    * Centroids are the seeded-medoid pick: the `nCents` corpus
    * vectors ranked first by the Knuth multiplicative hash
    * ((id mod 2³¹)·2654435761 mod 2³², ties by id) — a deterministic
    * pseudo-random sample. Lloyd-refined centroids ([[fitIvf]]) drop
    * in without touching the candidate/probe/re-rank plumbing and
    * buy tighter cells, but their float iterations are not
    * SQL-replayable; the medoid pick keeps EVERY stage — centroid
    * choice, assignment, probe set, re-rank — an exact integer
    * program the DuckDB oracle replays to the bit, which is what
    * makes q182's recall audit a full hash oracle rather than a
    * rows-only check. All ties are total: assignment and probe
    * ranking by (dist², cent id), re-rank by (dist², candidate id).
    *
    * Shape at scale: the centroid frame is nCents rows — broadcast
    * by construction; assignment/probing is one map-side cross
    * product with map-side-combined reduction (shuffle n rows, never
    * n·nCents); the candidate join shuffles on the CELL id with
    * n·nProbe probe rows against n assigned rows, so the pair stream
    * is Σ_cell |probes(cell)|·|members(cell)| ≈ n²·nProbe/nCents —
    * the nProbe/nCents scan fraction that is the IVF trade. Size
    * nCents ~ √n (and ≫ task count: cells ARE the shuffle keys, so
    * 16 cells cap parallelism at 16 tasks — fine at battery scale,
    * wrong at 10⁹ vectors). The heap still reduces each query to k
    * rows before the exchange. Queries whose probed cells hold no
    * different-label vector are absent (< k rows is legal) — the
    * audit's denominator is the exact side's row count, so missing
    * rows count against recall, never silently inflate it.
    *
    * Returns (idCol, rank, neg_id, dist2) ordered by (idCol, rank). */
  def ivfHardNegatives(emb: DataFrame, k: Int = 5,
      nCents: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", quantScale: Double = 1e4,
      numSalts: Int = 1, selectiveSalting: Boolean = false): DataFrame = {
    require(k >= 1 && nCents >= 1 && nProbe >= 1 && nProbe <= nCents)
    require(numSalts >= 1)
    def qdist(a: Column, b: Column): Column =
      graft.engine.Columns.ofExpr(QuantSqDistExpr(
        graft.engine.Columns.exprOf(a),
        graft.engine.Columns.exprOf(b), quantScale))
    val q = emb.select(col(idCol).as("__id"), col(labelCol).as("__lab"),
      col(vecCol).as("__v"))
    // Storage contract: routed backs two consumers of the result plan
    // (three when the skew audit runs) and stays persisted until
    // Bench's post-query sweep / session teardown (the
    // containmentPairs contract). Eager localCheckpoint, NOT cache:
    // the frame is a corpus-sized assignment pass feeding multiple
    // consumers, so an evicted cache entry would re-run the n·nCents
    // routing cross product once PER consumer under memory pressure —
    // the q119 deduplicateKeepBest failure shape (19.1 s outlier from
    // exactly this re-run). MEMORY_AND_DISK spills instead of
    // vanishing and pins the lineage to one evaluation.
    val routed = ivfRouted(q, nCents, nProbe, quantScale)
      .localCheckpoint(true)
    val queries = routed.select(col("__id").as("__qid"),
      col("__lab").as("__qlab"), col("__v").as("__qv"),
      explode(col("__probes")).as("__pcell"))
    val cands = routed.select(col("__id").as("__cand"),
      col("__lab").as("__clab"), col("__v").as("__cv2"),
      col("__cell").as("__ccell"))
    // numSalts > 1 points the engine's own skew lever (SkewJoin, q81)
    // at this join: the r18 ann curve isolated the x30 mining
    // variance to THIS cell-keyed join's contention-sensitive spill —
    // salting shards a cell's candidates numSalts ways (hash of
    // the candidate id) and replicates the probe rows across shards,
    // so a hot cell's pair stream splits into numSalts smaller tasks
    // instead of one spilling one. Result-identical by construction
    // (every (probe, cand) pair meets in exactly one shard — the
    // spec pins it); the pair VOLUME is unchanged, only its packing.
    //
    // selectiveSalting applies the lever where it pays and ONLY
    // there: round 19 measured the GLOBAL spelling (every cell's
    // probe rows replicated 8×) winning 2.4–5.1× under contention
    // but LOSING 3.4× in the round's quietest window (unsalted
    // 42.8 s vs salted 143.8 s) — an unconditional numSalts× probe
    // fan-out is a self-inflicted shuffle multiplier when no cell is
    // hot, exactly the case SkewJoin's own scaladoc warns about.
    // The selective spelling runs the q136 [[SkewJoin.skewKeyAudit]]
    // over the candidate cells first (one map-side-combined count to
    // ≤ nCents rows — a bounded collect by contract), routes the
    // HOT cells (> 1.2× the mean cell population) through the salted
    // join and the cold cells through the plain join, and unions the
    // two pair streams: each (probe, cand) pair still meets exactly
    // once, on whichever side its candidate's cell landed.
    def pairCols(df: DataFrame): DataFrame =
      df.filter(col("__qlab") =!= col("__clab"))
        .select(col("__qid"), col("__qv"), col("__cand"), col("__cv2"))
    val joined =
      if (numSalts <= 1)
        pairCols(queries.join(cands, col("__pcell") === col("__ccell")))
      else if (!selectiveSalting)
        pairCols(SkewJoin.saltedInnerJoin(cands, queries, "__ccell",
          "__pcell", numSalts, Seq("__cand")))
      else {
        // NOTE eager execution: the audit runs Spark jobs at
        // DataFrame-CONSTRUCTION time (skewKeyAudit's internal
        // localCheckpoint + this bounded ≤ nCents collect) — callers
        // of the selective spelling get driver-side work here, not a
        // pure lazy plan-builder. The audit's checkpoint blocks are
        // released as soon as the verdict is collected (below), so
        // repeated selective calls outside Bench's post-query sweep
        // do not accumulate pinned RDDs (round-20 ADVICE).
        val audit = SkewJoin.skewKeyAudit(cands.select(col("__ccell")),
          "__ccell").select(col("__ccell"))
        val hot = audit.collect().map(_.getLong(0)).toSeq
        Release.dropLocalCheckpoints(audit)
        if (hot.isEmpty)
          pairCols(queries.join(cands, col("__pcell") === col("__ccell")))
        else {
          val hotJoin = pairCols(SkewJoin.saltedInnerJoin(
            cands.filter(col("__ccell").isin(hot: _*)),
            queries.filter(col("__pcell").isin(hot: _*)),
            "__ccell", "__pcell", numSalts, Seq("__cand")))
          val coldJoin = pairCols(
            queries.filter(!col("__pcell").isin(hot: _*))
              .join(cands.filter(!col("__ccell").isin(hot: _*)),
                col("__pcell") === col("__ccell")))
          hotJoin.unionByName(coldJoin)
        }
      }
    joined
      .select(col("__qid"), col("__cand"),
        qdist(col("__qv"), col("__cv2")).as("__d2"))
      .groupBy(col("__qid"))
      .agg(TopKAgg.topK(col("__d2"), col("__cand"), k, largest = false).as("tk"))
      .select(col("__qid").as(idCol), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as("neg_id"), col("e.ord").cast(LongType).as("dist2"))
      .orderBy(col(idCol), col("rank"))
  }

  /** THE seeded pick, in one place: the `nSeeds` rows of `df` whose
    * full-32-bit Knuth id-hash `pmod(pmod(id, 2³¹)·2654435761, 2³²)`
    * ranks lowest (ties by ascending id), each stamped with its
    * 1-based hash rank as `rankName` (long). Every seeded draw in the
    * ANN stack — coarse IVF centroids, PQ medoid codebooks, residual
    * codebooks, the Lloyd init — is THIS pick, so a constant can only
    * drift for all of them at once, never silently desync one index
    * stage from its oracle replay (the round-18 verdict's four inline
    * copies, factored — the [[probeVector]] precedent). Window over a
    * LIMITed frame: bounded by contract, nSeeds rows. */
  private def seededRank(df: DataFrame, idColName: String, nSeeds: Int,
      rankName: String): DataFrame = {
    val hk = pmod(pmod(col(idColName), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    df.withColumn("__hk", hk)
      .orderBy(col("__hk"), col(idColName)).limit(nSeeds)
      .withColumn(rankName, row_number().over(
        Window.orderBy(col("__hk"), col(idColName))).cast(LongType))
      .drop("__hk")
  }

  /** The coarse-quantizer centroid frame shared by the OFFLINE
    * assignment ([[ivfRouted]] → [[ivfAssign]]) and the ONLINE query
    * routing ([[ivfAdcTopKBatch]], [[adcTopKBatchRouted]]): the
    * [[seededRank]] pick over (__id, __v), as (__cent, __cv). Factored
    * so routing and assignment cannot desync (r18 ADVICE). */
  private def seededCentroids(q: DataFrame, nCents: Int): DataFrame =
    seededRank(q.select(col("__id"), col("__v")), "__id", nCents, "__cent")
      .select(col("__cent"), col("__v").as("__cv"))

  /** Internal (shared by [[ivfHardNegatives]] and [[ivfProbeStats]]):
    * seeded-medoid centroids + one broadcast cross product yielding
    * BOTH the assignment (argmin cell, the candidate side) and the
    * probe list (nProbe nearest cells, the query side) in a single
    * map-side-combined pass. `q` is (__id, __lab, __v); returns
    * (__id, __lab, __v, __cell, __probes). NOT cached here — each
    * caller decides its own storage contract. */
  private def ivfRouted(q: DataFrame, nCents: Int, nProbe: Int,
      quantScale: Double): DataFrame = {
    def qdist(a: Column, b: Column): Column =
      graft.engine.Columns.ofExpr(QuantSqDistExpr(
        graft.engine.Columns.exprOf(a),
        graft.engine.Columns.exprOf(b), quantScale))
    val cents = seededCentroids(q, nCents)
    q.crossJoin(broadcast(cents))
      .select(col("__id"), col("__lab"), col("__v"), col("__cent"),
        qdist(col("__v"), col("__cv")).as("__d2c"))
      .groupBy("__id")
      .agg(first(col("__lab")).as("__lab"), first(col("__v")).as("__v"),
        min(struct(col("__d2c"), col("__cent"))).as("__amin"),
        TopKAgg.topK(col("__d2c"), col("__cent"), nProbe, largest = false)
          .as("__pr"))
      .select(col("__id"), col("__lab"), col("__v"),
        col("__amin.__cent").as("__cell"),
        transform(col("__pr"), e => e("id")).as("__probes"))
  }

  /** Seeded-medoid IVF assignment, exposed: every vector's cell
    * (argmin over the nCents hash-ranked medoids) and its nProbe
    * nearest cells — the label-free routing layer [[ivfHardNegatives]]
    * and q206's IVF+ADC retrieval share. One broadcast cross product,
    * map-side-combined; fully integer, SQL-replayable (the q182
    * replay). Returns (idCol, cell, probes: array<long>). */
  def ivfAssign(emb: DataFrame, nCents: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    require(nCents >= 1 && nProbe >= 1 && nProbe <= nCents)
    val q = emb.select(col(idCol).as("__id"), lit(0L).as("__lab"),
      col(vecCol).as("__v"))
    ivfRouted(q, nCents, nProbe, quantScale)
      .select(col("__id").as(idCol), col("__cell").as("cell"),
        col("__probes").as("probes"))
  }

  /** IVF probe-volume instrument: how many candidate PAIRS the
    * [[ivfHardNegatives]] cell join would stream at (nCents, nProbe)
    * — Σ over cells of |probes(cell)| · |members(cell)|, the
    * n²·nProbe/nCents scan fraction made measurable WITHOUT running
    * the join itself (cost: one assignment pass, n·nCents distances,
    * then two cell-bounded aggregates). This is what the `ann`
    * scaling curve reports next to wall-clock so "cost tracks the
    * probed fraction, not n²" is a committed measurement, and the
    * sizing read behind nCents ~ √n: at fixed nProbe the fraction is
    * nProbe/nCents, so √n cells turn the n² pair stream into
    * n^1.5·nProbe. (The pair count ignores the cross-label filter —
    * it is the stream the shuffle carries; the label filter prunes
    * inside the join.)
    *
    * Returns ONE row (n_vecs, n_cells_used, cand_pairs). */
  def ivfProbeStats(emb: DataFrame, nCents: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", quantScale: Double = 1e4): DataFrame = {
    require(nCents >= 1 && nProbe >= 1 && nProbe <= nCents)
    val q = emb.select(col(idCol).as("__id"), col(labelCol).as("__lab"),
      col(vecCol).as("__v"))
    // q119 criterion: routed is a corpus-sized frame whose recompute
    // is the n·nCents routing cross product, and it feeds THREE
    // consumers — eager localCheckpoint, not cache, so memory
    // pressure spills it instead of re-running the routing once per
    // consumer. The 1-row result is checkpointed on its own blocks
    // (no lineage back to routed), so routed's blocks can be released
    // before returning — this instrument runs once per scaling POINT,
    // and pinning a corpus-sized frame per point would accumulate.
    val routed = ivfRouted(q, nCents, nProbe, quantScale)
      .select(col("__id"), col("__cell"), col("__probes"))
      .localCheckpoint(true)
    val members = routed.groupBy("__cell").agg(count(lit(1)).as("__m"))
    val probes = routed.select(explode(col("__probes")).as("__cell"))
      .groupBy("__cell").agg(count(lit(1)).as("__p"))
    val out = members.join(probes, Seq("__cell"))
      .agg(count(lit(1)).as("n_cells_used"),
        sum(col("__m") * col("__p")).as("cand_pairs"))
      .crossJoin(broadcast(routed.agg(count(lit(1)).as("n_vecs"))))
      .select(col("n_vecs"), col("n_cells_used"), col("cand_pairs"))
    val materialized = out.localCheckpoint(true)
    Release.dropLocalCheckpoint(routed)
    materialized
  }

  /** PRODUCT-QUANTIZATION codes (Jégou et al. TPAMI'11): the vector
    * is split into `m` contiguous subspaces; each subvector is
    * replaced by the index of its nearest codeword in that subspace's
    * `nCodes`-entry codebook. A 64-dim float32 vector (256 B)
    * becomes m = 8 one-byte codes — 32× compression, the memory
    * lever AFTER [[quantizeInt8]]'s 4×, and the scan cost per
    * candidate drops from D multiplies to m table lookups (ADC —
    * [[pqAdcRecall]] audits what that costs in recall). Codebooks
    * are the seeded-medoid pick ([[ivfHardNegatives]]'s argument):
    * the `nCodes` hash-ranked corpus vectors contribute their s-th
    * slice as subspace s's codewords, keeping every stage — codebook
    * choice, integer assignment distances, tie-breaks — an exact
    * integer program the SQL oracle replays bit-for-bit; Lloyd-
    * refined per-subspace codebooks drop in at scale without
    * touching the assignment/ADC plumbing, they are just not
    * SQL-replayable. Assignment ties break by ascending code.
    *
    * Shape at scale: the codebook frame is m·nCodes rows — broadcast
    * by construction; assignment is one map-side cross product per
    * subspace with map-side-combined argmin (shuffle n·m rows of
    * three integers, never n·m·nCodes). The dimension probe is one
    * limit(1) collect (bounded by contract, the q135 idiom).
    *
    * Returns (idCol, subspace, code) ordered by (idCol, subspace). */
  def pqCodes(emb: DataFrame, m: Int = 8, nCodes: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    val (codes, _, _) = pqParts(emb, m, nCodes, idCol, vecCol, quantScale)
    codes.select(col("__id").as(idCol), col("__s").as("subspace"),
      col("__code").as("code"))
      .orderBy(idCol, "subspace")
  }

  /** Internal: (codes frame (__id, __s, __code), codebook frame
    * (__s, __code, __cv), subLen) shared by [[pqCodes]] and
    * [[pqAdcRecall]]. */
  private def pqParts(emb: DataFrame, m: Int, nCodes: Int,
      idCol: String, vecCol: String, quantScale: Double)
      : (DataFrame, DataFrame, Int) = {
    val (books, subLen) = pqBooksInternal(emb, m, nCodes, idCol, vecCol)
    val codes = pqAssignInternal(emb, books, m, subLen, idCol, vecCol,
      quantScale)
    (codes, books, subLen)
  }

  /** Internal: seeded-medoid codebooks (__s, __code, __cv) + subLen. */
  private def pqBooksInternal(emb: DataFrame, m: Int, nCodes: Int,
      idCol: String, vecCol: String): (DataFrame, Int) = {
    require(m >= 1 && nCodes >= 1)
    val dim = emb.select(size(col(vecCol)).as("d")).limit(1)
      .collect()(0).getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subLen = dim / m
    val meds = seededRank(
      emb.select(col(idCol).as("__mid"), col(vecCol).as("__mv")),
      "__mid", nCodes, "__code")
    val books = meds
      .select(col("__code"), explode(sequence(lit(0), lit(m - 1))).as("__s"),
        col("__mv"))
      .select(col("__s"), col("__code"),
        slice(col("__mv"), col("__s") * subLen + 1, lit(subLen)).as("__cv"))
    (books, subLen)
  }

  /** Internal: assign every vector's m subvectors to their nearest
    * codeword in the GIVEN codebook frame (broadcast by size). */
  private def pqAssignInternal(emb: DataFrame, books: DataFrame, m: Int,
      subLen: Int, idCol: String, vecCol: String,
      quantScale: Double): DataFrame = {
    def qdist(a: Column, b: Column): Column =
      graft.engine.Columns.ofExpr(QuantSqDistExpr(
        graft.engine.Columns.exprOf(a),
        graft.engine.Columns.exprOf(b), quantScale))
    val sub = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .select(col("__id"), explode(sequence(lit(0), lit(m - 1))).as("__s"),
        col("__v"))
      .select(col("__id"), col("__s"),
        slice(col("__v"), col("__s") * subLen + 1, lit(subLen)).as("__sv"))
    sub.join(broadcast(books), Seq("__s"))
      .select(col("__id"), col("__s"), col("__code"),
        qdist(col("__sv"), col("__cv")).as("__d2"))
      .groupBy("__id", "__s")
      .agg(min(struct(col("__d2"), col("__code"))).as("__m"))
      .select(col("__id"), col("__s"), col("__m.__code").as("__code"))
  }

  /** Widened probe-vector extraction: the single bounded collect every
    * retrieval query def needs, with the float|double element widening
    * and the nonEmpty guard in ONE place (the r16 pqAdcRecall fix,
    * promoted to the shared helper the r17 ADVICE asked for — q205/q206
    * had re-introduced the bare `getSeq[Float]` pattern). Row.getSeq
    * materializes a collection.Seq whose element class follows the
    * PARQUET schema, so a fixture migrating array<float> → array<double>
    * flips the element type at runtime; matching on the boxed classes
    * keeps every caller schema-agnostic. Bounded by contract: limit(1)
    * on an id-equality filter. */
  def probeVector(emb: DataFrame, id: Long, idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Double] = {
    val rows = emb.filter(col(idCol) === id).select(col(vecCol))
      .limit(1).collect()
    require(rows.nonEmpty,
      s"probeVector: no row with $idCol = $id in the embedding frame")
    (rows(0).get(0) match {
      case s: scala.collection.Seq[_] => s.map {
        case f: java.lang.Float  => f.toDouble
        case d: java.lang.Double => d.doubleValue()
      }
      case other => sys.error(
        s"probeVector: $vecCol must be array<float|double>, got $other")
    }).toSeq
  }

  /** Shared recall@k tail for every ranking audit in the PQ/IVF
    * family ([[pqAdcRecall]], [[ivfAdcRecall]], [[pqLloydRecall]],
    * [[ivfAdcResidualRecall]]): join the exact ranks (__id, __er)
    * with the approximate ranks (__id, __ar), count overlaps per k,
    * and FILL THE k GRID — a k whose top-k overlap is empty emits
    * (k, 0, 0) instead of no row, matching the LEFT-JOIN fill the
    * SQL oracles use (r18 ADVICE: the q213 oracle filled its grid
    * while the engine side omitted empty groups — a latent row-count
    * mismatch on any corpus where some nProbe finds nothing).
    *
    * Returns (k, n_overlap, recall_ppm) ordered by k. */
  private def recallGrid(exact: DataFrame, approx: DataFrame,
      ks: Seq[Int]): DataFrame = {
    val spark = exact.sparkSession
    val ksDf = spark.range(0, ks.length).select(
      element_at(typedLit(ks.map(_.toLong)), col("id").cast("int") + 1)
        .as("k"))
    val hits = exact.join(approx, Seq("__id"))
      .crossJoin(broadcast(ksDf))
      .filter(col("__er") <= col("k") && col("__ar") <= col("k"))
      .groupBy("k").agg(count(lit(1)).as("__c"))
    ksDf.join(hits, Seq("k"), "left")
      .select(col("k"), coalesce(col("__c"), lit(0L)).as("n_overlap"))
      .withColumn("recall_ppm", expr("(n_overlap * 1000000) div k"))
      .orderBy("k")
  }

  /** Codebook geometry (m, subLen) read from a fitted/loaded codebook
    * frame — shared by [[encodePq]] and [[adcTopK]] so both refuse an
    * EMPTY frame with a contract message instead of NPE-ing on the
    * null max(subspace) aggregate (r17 ADVICE), and refuse mixed
    * codeword lengths the same way. One bounded collect (the frame is
    * m·nCodes rows by contract). */
  private def pqGeometry(books: DataFrame): (Int, Int) = {
    val geo = books.agg(max(col("subspace")).as("mm"),
        min(size(col("codeword"))).as("lmin"),
        max(size(col("codeword"))).as("lmax")).collect()(0)
    require(!geo.isNullAt(0),
      "codebook frame is empty — fit or load a PQ codebook first")
    val m = geo.getAs[Number](0).intValue() + 1
    val subLen = geo.getInt(2)
    require(geo.getInt(1) == subLen,
      "codebook frame has mixed codeword lengths")
    (m, subLen)
  }

  /** Fit the seeded-medoid PQ codebooks alone:
    * (subspace, code, codeword), m·nCodes rows — the frame
    * [[savePq]] freezes. */
  def fitPqBooks(emb: DataFrame, m: Int = 8, nCodes: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (books, _) = pqBooksInternal(emb, m, nCodes, idCol, vecCol)
    books.select(col("__s").cast(LongType).as("subspace"),
      col("__code").as("code"), col("__cv").as("codeword"))
  }

  /** Freeze a fitted PQ codebook to parquet — the compression rung's
    * [[saveIvf]]/q90-`saveIndex` stance: production fits codebooks
    * once (or per re-train window), then ENCODES daily increments
    * against the frozen frame; re-fitting per batch would silently
    * change every stored code's meaning (an ADC scan mixes codes from
    * different codebooks into one integer sum). m·nCodes rows →
    * coalesce(1), one tiny file. */
  def savePq(books: DataFrame, dir: String): Unit =
    books.select("subspace", "code", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(dir)

  /** Reload a codebook written by [[savePq]]. */
  def loadPq(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Encode a batch against a STORED codebook (no refit): the PQ
    * maintenance path mirroring [[appendIvf]]. m and subLen are read
    * from the codebook frame itself (one bounded collect — the frame
    * is m·nCodes rows by contract), so a caller cannot desync the
    * split geometry from the codebook it loaded. Returns
    * (idCol, subspace, code) ordered by (idCol, subspace). */
  def encodePq(emb: DataFrame, books: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    val (m, subLen) = pqGeometry(books)
    val dim = emb.select(size(col(vecCol)).as("d")).limit(1)
      .collect()(0).getInt(0)
    require(dim == m * subLen,
      s"embedding dim $dim does not match stored codebook geometry " +
        s"m=$m × subLen=$subLen")
    // subspace is stored as long; the assignment's exploded index is
    // int — align the join key types explicitly
    val b = books.select(col("subspace").cast("int").as("__s"),
      col("code").as("__code"), col("codeword").as("__cv"))
    pqAssignInternal(emb, b, m, subLen, idCol, vecCol, quantScale)
      .select(col("__id").as(idCol),
        col("__s").cast(LongType).as("subspace"), col("__code").as("code"))
      .orderBy(idCol, "subspace")
  }

  /** ADC top-k RETRIEVAL over STORED PQ codes — the query path the
    * compression rung exists for: the corpus is m small integers per
    * vector ([[encodePq]] against a frozen [[savePq]] codebook), the
    * probe builds one m×nCodes lookup table against the codebook
    * (m·nCodes exact integer distances, broadcast by construction),
    * and every candidate's asymmetric distance is m table lookups
    * summed — never a D-dim distance against raw vectors, which at
    * 100 TB no longer fit anywhere. [[pqAdcRecall]] (q185) is the
    * audit pricing what this scan costs in recall; this is the scan.
    *
    * Shape at scale: codes shuffle once on (subspace, code) against
    * the broadcast LUT, the per-id sum is map-side combined, and
    * [[TopKAgg]] reduces to k rows before the final exchange. All
    * integer; ties rank by ascending id (the heap rule), so the
    * result is exact and SQL-replayable.
    *
    * Returns (rank, idCol, adc_d2) ordered by rank. */
  def adcTopK(codes: DataFrame, books: DataFrame, queryVec: Seq[Double],
      k: Int = 10, idCol: String = "vec_id",
      quantScale: Double = 1e4): DataFrame = {
    require(k >= 1 && queryVec.nonEmpty)
    val (m, subLen) = pqGeometry(books)
    require(queryVec.length == m * subLen,
      s"query dim ${queryVec.length} does not match codebook geometry " +
        s"m=$m × subLen=$subLen")
    def qdist(a: Column, b: Column): Column =
      graft.engine.Columns.ofExpr(QuantSqDistExpr(
        graft.engine.Columns.exprOf(a),
        graft.engine.Columns.exprOf(b), quantScale))
    val qlit = typedLit(queryVec)
    val lut = books.select(col("subspace"), col("code"),
      qdist(slice(qlit, col("subspace").cast("int") * subLen + 1,
        lit(subLen)), col("codeword")).as("__qd2"))
    codes.join(broadcast(lut), Seq("subspace", "code"))
      .groupBy(col(idCol)).agg(sum(col("__qd2")).as("__adc"))
      .agg(TopKAgg.topK(col("__adc"), col(idCol), k, largest = false)
        .as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as(idCol), col("e.ord").cast(LongType).as("adc_d2"))
      .orderBy("rank")
  }

  /** ADC RECALL audit for [[pqCodes]]: recall@k of asymmetric-
    * distance ranking (query against the codebook reconstruction —
    * m lookups in a query-specific m×nCodes table, the PQ scan
    * primitive) versus the exact integer quantized distance on raw
    * vectors, for one probe query — "how much retrieval does 32×
    * compression cost", the q135/q182 audit family. Every quantity
    * is exact integer arithmetic (the LUT entries and their m-term
    * sums), so both rankings and the overlaps replay in SQL. With
    * nCodes = n every vector is its own codeword and ADC degenerates
    * to the exact distance — recall 1 at every k (Round16OpsSpec
    * pins it).
    *
    * Returns (k, n_overlap, recall_ppm) ordered by k. */
  def pqAdcRecall(emb: DataFrame, queryId: Long = 0L,
      ks: Seq[Int] = Seq(1, 5, 10), m: Int = 8, nCodes: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1))
    val maxK = ks.max
    val (codes, books, subLen) = pqParts(emb, m, nCodes, idCol, vecCol,
      quantScale)
    def qdist(a: Column, b: Column): Column =
      graft.engine.Columns.ofExpr(QuantSqDistExpr(
        graft.engine.Columns.exprOf(a),
        graft.engine.Columns.exprOf(b), quantScale))
    val qv: Seq[Double] = probeVector(emb, queryId, idCol, vecCol)
    val qlit = typedLit(qv)
    val lut = books.select(col("__s"), col("__code"),
      qdist(slice(qlit, col("__s") * subLen + 1, lit(subLen)), col("__cv"))
        .as("__qd2"))
    val adc = codes.join(broadcast(lut), Seq("__s", "__code"))
      .groupBy("__id").agg(sum(col("__qd2")).as("__adc"))
    def topRanks(scored: DataFrame, scoreCol: String, rankName: String) =
      scored
        .agg(TopKAgg.topK(col(scoreCol), col("__id"), maxK, largest = false)
          .as("tk"))
        .select(posexplode(col("tk")).as(Seq("pos", "e")))
        .select((col("pos") + 1).cast(LongType).as(rankName),
          col("e.id").as("__id"))
    val adcR = topRanks(adc, "__adc", "__ar")
    val exR = topRanks(
      emb.select(col(idCol).as("__id"), qdist(qlit, col(vecCol)).as("__dx")),
      "__dx", "__er")
    recallGrid(exR, adcR, ks)
  }

  /** END-TO-END IVFADC recall audit: recall@k of the COMPOSED
    * route → PQ-encode → ADC-rank system (q206's assembly of
    * [[ivfAssign]] ∘ [[encodePq]] ∘ [[adcTopK]]) against the exact
    * integer quantized distance on raw vectors — the number a
    * production index is actually judged by. [[pqAdcRecall]] (q185)
    * prices quantization loss ALONE and the q182 audit prices
    * cell-miss ALONE; the composition loses recall through BOTH
    * channels at once (a true neighbor can sit in an unprobed cell OR
    * get out-ranked by a coarser code), and the product of the two
    * per-rung numbers is not the composed recall — the channels are
    * correlated through the shared geometry. Same audit algebra as
    * [[pqAdcRecall]]: both rankings exact integer programs, overlap
    * counts exact, recall an integer ppm division, so the SQL oracle
    * replays every stage end to end.
    *
    * Degenerate contract (the spec's pin): with nProbe = nCents every
    * cell is probed (no routing loss) and with nCodes = n every vector
    * is its own codeword (no quantization loss), so the composed
    * ranking IS the exact ranking and recall = 1 at every k.
    *
    * Shape at scale: the audit runs on a sampled probe set in
    * production (one query here — the q135 stance); every stage is
    * the operator under audit itself, so cost is one q206 retrieval
    * plus one exact scan of the corpus (the ground-truth side, which
    * is what makes it an offline audit, not a query-path cost).
    *
    * Returns (k, n_overlap, recall_ppm) ordered by k. */
  def ivfAdcRecall(emb: DataFrame, queryId: Long = 0L,
      ks: Seq[Int] = Seq(1, 5, 10), nCents: Int = 16, nProbe: Int = 4,
      m: Int = 8, nCodes: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding", quantScale: Double = 1e4): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1))
    val maxK = ks.max
    val qv = probeVector(emb, queryId, idCol, vecCol)
    // the system under audit — q206's exact assembly
    val asg = ivfAssign(emb, nCents, nProbe, idCol, vecCol, quantScale)
    val probeCells = asg.filter(col(idCol) === queryId)
      .select(explode(col("probes")).as("cell"))
    val candIds = asg.join(broadcast(probeCells), Seq("cell"), "left_semi")
      .select(idCol)
    val candEmb = emb.join(candIds, Seq(idCol), "left_semi")
    val books = fitPqBooks(emb, m, nCodes, idCol, vecCol)
    val codes = encodePq(candEmb, books, idCol, vecCol, quantScale)
    val approx = adcTopK(codes, books, qv, maxK, idCol, quantScale)
      .select(col("rank").as("__ar"), col(idCol).as("__id"))
    // exact side: integer quantized distance over the FULL corpus,
    // bounded-heap top-k — the ground truth both rungs' audits share
    def qdist(a: Column, b: Column): Column =
      graft.engine.Columns.ofExpr(QuantSqDistExpr(
        graft.engine.Columns.exprOf(a),
        graft.engine.Columns.exprOf(b), quantScale))
    val exact = emb
      .select(col(idCol).as("__id"), qdist(typedLit(qv), col(vecCol)).as("__dx"))
      .agg(TopKAgg.topK(col("__dx"), col("__id"), maxK, largest = false)
        .as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast(LongType).as("__er"), col("e.id").as("__id"))
    recallGrid(exact, approx, ks)
  }

  /** BATCHED multi-query ADC retrieval — the production spelling of
    * [[adcTopK]]: that method serves ONE query per Spark job via a
    * driver-side vector literal, which at 10⁶ queries/day is a
    * scheduler DoS (one job submission, one broadcast, one shuffle
    * per query). This takes a query FRAME and serves the whole batch
    * in ONE job: the per-query LUTs are built as a single
    * (query × subspace × code) frame — |queries|·m·nCodes rows of
    * three integers, broadcast by construction for any sane batch —
    * the stored codes shuffle ONCE against it, the per-(query, id)
    * sum is map-side combined, and [[TopKAgg]] reduces each query's
    * candidates to k rows before the final exchange. Per-candidate
    * work is still m lookups; total shuffle volume is
    * |queries| × k × 16 B out of the heap stage, independent of
    * corpus size. All integer, ties by ascending id — exact and
    * SQL-replayable, and per probe the ranking is IDENTICAL to the
    * single-query [[adcTopK]] (the spec pins it).
    *
    * Returns (queryIdCol, rank, idCol, adc_d2) ordered by
    * (queryIdCol, rank). */
  def adcTopKBatch(codes: DataFrame, books: DataFrame, queries: DataFrame,
      k: Int = 10, idCol: String = "vec_id", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding", quantScale: Double = 1e4): DataFrame = {
    require(k >= 1)
    val (m, subLen) = pqGeometry(books)
    val qdim = queries.select(size(col(queryVecCol)).as("d")).limit(1)
      .collect()
    require(qdim.nonEmpty, "adcTopKBatch: empty query frame")
    require(qdim(0).getInt(0) == m * subLen,
      s"query dim ${qdim(0).getInt(0)} does not match codebook geometry " +
        s"m=$m × subLen=$subLen")
    def qdist(a: Column, b: Column): Column =
      graft.engine.Columns.ofExpr(QuantSqDistExpr(
        graft.engine.Columns.exprOf(a),
        graft.engine.Columns.exprOf(b), quantScale))
    val lut = queries
      .select(col(queryIdCol).as("__qid"), col(queryVecCol).as("__qv"))
      .crossJoin(books)
      .select(col("__qid"), col("subspace"), col("code"),
        qdist(slice(col("__qv"), col("subspace").cast("int") * subLen + 1,
          lit(subLen)), col("codeword")).as("__qd2"))
    codes.join(broadcast(lut), Seq("subspace", "code"))
      .groupBy(col("__qid"), col(idCol))
      .agg(sum(col("__qd2")).as("__adc"))
      .groupBy(col("__qid"))
      .agg(TopKAgg.topK(col("__adc"), col(idCol), k, largest = false)
        .as("tk"))
      .select(col("__qid"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("__qid").as(queryIdCol),
        (col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as(idCol), col("e.ord").cast(LongType).as("adc_d2"))
      .orderBy(queryIdCol, "rank")
  }

  /** IVF-ROUTED batched ADC retrieval — [[adcTopKBatch]] composed
    * with the coarse router, i.e. the FULL production query tier:
    * the batch variant still scans every stored code for every query
    * (its per-query cost is O(n·m) lookups — fine for audits, not
    * for a 100 TB index), while this routes each query to its nProbe
    * nearest cells first and streams only those cells' codes, so the
    * per-query scan is n·nProbe/nCents. Offline side: one
    * [[ivfAssign]] pass stamps each stored code row with its cell;
    * online side: queries rank the broadcast centroid frame
    * (|queries|·nCents distances), the cell-keyed join fans each
    * code row out ONLY to the queries probing its cell, the
    * per-query LUT lookup and per-(query, id) sum are map-side
    * combined, and [[TopKAgg]] bounds each query's exchange at k
    * rows. Raw-vector coding keeps the LUT per-query (not per-cell —
    * the q206 stance; [[ivfAdcResidualRecall]] documents the
    * per-cell variant). All integer, ties by ascending id, every
    * stage SQL-replayable.
    *
    * Degenerate contract (the spec's pin): nProbe = nCents probes
    * every cell, so the routed ranking equals [[adcTopKBatch]]'s
    * full scan per probe.
    *
    * Returns (queryIdCol, rank, idCol, adc_d2) ordered by
    * (queryIdCol, rank). */
  def ivfAdcTopKBatch(emb: DataFrame, queries: DataFrame, k: Int = 10,
      nCents: Int = 16, nProbe: Int = 4, m: Int = 8, nCodes: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", queryVecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    require(nCents >= 1 && nProbe >= 1 && nProbe <= nCents)
    // offline: stored codes stamped with their cell
    val asg = ivfAssign(emb, nCents, nProbe, idCol, vecCol, quantScale)
      .select(col(idCol), col("cell"))
    val books = fitPqBooks(emb, m, nCodes, idCol, vecCol)
    val codes = encodePq(emb, books, idCol, vecCol, quantScale)
      .join(asg, Seq(idCol))
    val cents = ivfCentroids(emb, nCents, idCol, vecCol)
    adcTopKBatchRouted(codes, books, cents, queries, k, nProbe,
      idCol, queryIdCol, queryVecCol, quantScale)
  }

  /** The coarse-quantizer centroid frame as a PUBLIC artifact
    * (cell, centroid) — the [[seededCentroids]] pick [[ivfAssign]]
    * ranks every stored vector against, exposed so the ONLINE tier
    * ([[adcTopKBatchRouted]]) provably routes against the SAME frame
    * the offline assignment used, and so a harness can stage (and
    * time) the offline build separately from the query path. nCents
    * rows — broadcast-scale by contract. */
  def ivfCentroids(emb: DataFrame, nCents: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nCents >= 1)
    seededCentroids(
      emb.select(col(idCol).as("__id"), col(vecCol).as("__v")), nCents)
      .select(col("__cent").as("cell"), col("__cv").as("centroid"))
  }

  /** ONLINE tier of [[ivfAdcTopKBatch]] over a PREBUILT index — the
    * serving path a production deployment actually runs per batch:
    * `codes` are stored cell-stamped PQ codes (offline:
    * [[encodePq]] ∘ [[ivfAssign]], built once), `books` the frozen
    * codebook, `cents` the [[ivfCentroids]] frame. Queries rank the
    * broadcast centroids (|queries|·nCents distances), take nProbe
    * cells, the cell-keyed join fans each code row only to the
    * queries probing its cell, per-query LUTs broadcast, per-(query,
    * id) sums map-side combine, [[TopKAgg]] bounds each query's
    * exchange at k. Splitting the tiers is also what lets the adc
    * scaling curve price the ONLINE scan alone: its per-query
    * candidate stream is n·nProbe/nCents code rows versus
    * [[adcTopKBatch]]'s full n.
    *
    * Returns (queryIdCol, rank, idCol, adc_d2) ordered by
    * (queryIdCol, rank). */
  def adcTopKBatchRouted(codes: DataFrame, books: DataFrame,
      cents: DataFrame, queries: DataFrame, k: Int = 10, nProbe: Int = 4,
      idCol: String = "vec_id", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    require(k >= 1 && nProbe >= 1)
    def qdist(a: Column, b: Column): Column =
      graft.engine.Columns.ofExpr(QuantSqDistExpr(
        graft.engine.Columns.exprOf(a),
        graft.engine.Columns.exprOf(b), quantScale))
    val c = cents.select(col("cell").as("__cent"),
      col("centroid").as("__cv"))
    val qprobe = queries
      .select(col(queryIdCol).as("__qid"), col(queryVecCol).as("__qv"))
      .crossJoin(broadcast(c))
      .groupBy("__qid")
      .agg(TopKAgg.topK(qdist(col("__qv"), col("__cv")), col("__cent"),
        nProbe, largest = false).as("__pr"))
      .select(col("__qid"), explode(transform(col("__pr"), e => e("id")))
        .as("cell"))
    // per-query LUTs: identical construction (and contract checks)
    // to adcTopKBatch
    val (mG, subLen) = pqGeometry(books)
    val qdim = queries.select(size(col(queryVecCol)).as("d")).limit(1)
      .collect()
    require(qdim.nonEmpty, "adcTopKBatchRouted: empty query frame")
    require(qdim(0).getInt(0) == mG * subLen,
      s"query dim ${qdim(0).getInt(0)} does not match codebook geometry " +
        s"m=$mG × subLen=$subLen")
    val lut = queries
      .select(col(queryIdCol).as("__qid"), col(queryVecCol).as("__qv"))
      .crossJoin(books)
      .select(col("__qid"), col("subspace"), col("code"),
        qdist(slice(col("__qv"), col("subspace").cast("int") * subLen + 1,
          lit(subLen)), col("codeword")).as("__qd2"))
    codes.join(broadcast(qprobe), Seq("cell"))
      .join(broadcast(lut), Seq("__qid", "subspace", "code"))
      .groupBy(col("__qid"), col(idCol))
      .agg(sum(col("__qd2")).as("__adc"))
      .groupBy(col("__qid"))
      .agg(TopKAgg.topK(col("__adc"), col(idCol), k, largest = false)
        .as("tk"))
      .select(col("__qid"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("__qid").as(queryIdCol),
        (col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as(idCol), col("e.ord").cast(LongType).as("adc_d2"))
      .orderBy(queryIdCol, "rank")
  }

  /** LLOYD-refined PQ codebooks in exact fixed-point integers — the
    * codebook fit Jégou '11 actually uses (k-means per subspace),
    * where [[fitPqBooks]] stops at seeded medoids: `rounds` bounded
    * Lloyd iterations over each subspace's slice population
    * ([[graft.ops.Clustering.kmeans]]'s stance — quantize once,
    * integer distances, DECIMAL(38,0) floor-mean updates, lowest-code
    * ties, empty-code carry — so every round is a pure function of
    * the input and a SQL oracle replays it). All m subspaces refine
    * JOINTLY: one assignment join and one (subspace, code, dim)
    * aggregation per round, never m separate jobs. `rounds = 0`
    * returns the quantized seeded-medoid book — the [[fitPqBooks]]
    * geometry in integer form, which is what makes the q218 A/B a
    * controlled experiment (same init, only the refinement differs).
    *
    * The codebook lives on the DRIVER between rounds (m·nCodes·subLen
    * longs — bounded by contract, the kmeans template): each round's
    * frame is built fresh from the collected book, so lineage never
    * deepens with the round count.
    *
    * Returns (subspace, code, codeword: array<long>) — m·nCodes rows. */
  def fitPqBooksLloyd(emb: DataFrame, m: Int = 8, nCodes: Int = 16,
      rounds: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding", quantScale: Double = 1e4): DataFrame = {
    val d0 = probeDim(emb, idCol, vecCol)
    fitPqBooksLloydInt(
      emb.select(col(idCol).as("__id"),
        quantArr(col(vecCol), quantScale).as("__qv")),
      m, nCodes, rounds, d0)
  }

  /** [[fitPqBooksLloyd]]'s core over an ALREADY-INTEGER frame
    * (__id, __qv: array<long>) — factored so the RESIDUAL index fit
    * ([[ivfAdcTopKBatchResidual]]) runs the IDENTICAL Lloyd program
    * over residual vectors (exact integer differences) that the raw
    * fit runs over quantized vectors: same seeded init rule, same
    * floor-mean/tie/carry arithmetic, one code path to audit. */
  private def fitPqBooksLloydInt(q: DataFrame, m: Int, nCodes: Int,
      rounds: Int, dim: Int): DataFrame =
    fitPqBooksLloydIntSnapshots(q, m, nCodes, Seq(rounds), dim)(rounds)

  /** [[fitPqBooksLloydInt]] with INTERMEDIATE snapshots: one Lloyd
    * run to max(rounds), the codebook captured at every requested
    * round count. Lloyd refinement is prefix-stable (round r+1 is a
    * pure function of round r's book), so the r-round book read from
    * a longer run IS the r-round fit — the engine-side twin of the
    * q229 oracle's single chained round spine read at its prefixes
    * (the q221 BPE-prefix argument applied to k-means), and what lets
    * the rounds→recall frontier pay ONE fit instead of Σ rounds. */
  private def fitPqBooksLloydIntSnapshots(q: DataFrame, m: Int,
      nCodes: Int, snapRounds: Seq[Int], dim: Int): Map[Int, DataFrame] = {
    require(m >= 1 && nCodes >= 1)
    require(snapRounds.nonEmpty && snapRounds.forall(_ >= 0))
    val rounds = snapRounds.max
    val spark = q.sparkSession
    import spark.implicits._
    require(dim % m == 0, s"dim $dim is not divisible by m=$m")
    val subLen = dim / m
    def id2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
    val ssDf = spark.range(0, m).select(col("id").as("__ss"))
    val sub = q.crossJoin(ssDf)
      .select(col("__id"), col("__ss"),
        slice(col("__qv"), col("__ss").cast("int") * subLen + 1,
          lit(subLen)).as("__sv"))
    // seeded-medoid init: the fitPqBooks rows, in the integer domain
    var book: Seq[(Long, Long, Seq[Long])] =
      seededRank(q, "__id", nCodes, "__code")
        .collect().flatMap { r =>
          val qv = r.getSeq[Long](1)
          val code = r.getLong(2)
          (0 until m).map(s => (s.toLong, code,
            qv.slice(s * subLen, (s + 1) * subLen)))
        }.toSeq
    val snaps = scala.collection.mutable.Map.empty[Int, Seq[(Long, Long, Seq[Long])]]
    if (snapRounds.contains(0)) snaps(0) = book
    var round = 0
    while (round < rounds) {
      val bdf = book.toDF("__ss", "__code", "__cv")
      val upd = sub.join(broadcast(bdf), Seq("__ss"))
        .select(col("__id"), col("__ss"),
          struct(id2(col("__sv"), col("__cv")).as("__d"), col("__code"))
            .as("__s"), col("__sv"))
        .groupBy("__id", "__ss")
        .agg(min(col("__s")).as("__m"), first(col("__sv")).as("__sv"))
        .select(col("__ss"), col("__m.__code").as("__code"),
          posexplode(col("__sv")).as(Seq("__pos", "__v")))
        .groupBy("__ss", "__code", "__pos")
        .agg(sum(col("__v").cast(DecimalType(38, 0))).as("__sum"),
          count(lit(1)).as("__n"))
        // floor-mean: subtract the non-negative remainder first so
        // div is an exact multiple — true floor at any sign
        .select(col("__ss"), col("__code"), col("__pos"),
          expr("(__sum - pmod(__sum, __n)) div __n").as("__mean"))
        .collect()
        .groupBy(r => (r.getLong(0), r.getLong(1)))
        .map { case (k, rows) =>
          k -> rows.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq
        }
      // empty-code carry: a code that attracted no slice keeps its
      // previous codeword (the kmeans rule)
      book = book.map { case (s, c, prev) =>
        (s, c, upd.getOrElse((s, c), prev))
      }
      round += 1
      if (snapRounds.contains(round)) snaps(round) = book
    }
    snaps.map { case (r, b) =>
      r -> b.toDF("subspace", "code", "codeword")
        .orderBy("subspace", "code")
    }.toMap
  }

  /** Recall@k of ADC ranking under a Lloyd-refined integer codebook
    * ([[fitPqBooksLloyd]]) vs exact integer distance — the
    * [[pqAdcRecall]] audit with the codebook fit swapped, so
    * `rounds = 0` reproduces it exactly (same seeded-medoid init,
    * integer arithmetic equal to the quantized float path term by
    * term) and higher rounds measure what k-means refinement actually
    * buys on THIS corpus (the q214 lesson: measure, don't assume the
    * literature's fit transfers).
    *
    * Returns (k, n_overlap, recall_ppm) ordered by k. */
  def pqLloydRecall(emb: DataFrame, queryId: Long = 0L,
      ks: Seq[Int] = Seq(1, 5, 10), m: Int = 8, nCodes: Int = 16,
      rounds: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding", quantScale: Double = 1e4): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1))
    val spark = emb.sparkSession
    val maxK = ks.max
    val qraw = probeVector(emb, queryId, idCol, vecCol)
    val d = qraw.length
    require(d % m == 0, s"dim $d is not divisible by m=$m")
    val subLen = d / m
    val qq: Seq[Long] = qraw.map(x => math.floor(x * quantScale).toLong)
    def id2(a: Column, b: Column): Column = intSqDist(a, b)
    def sliceS(v: Column, s: Column): Column =
      slice(v, s.cast("int") * subLen + 1, lit(subLen))
    val books = fitPqBooksLloyd(emb, m, nCodes, rounds, idCol, vecCol,
      quantScale)
      .select(col("subspace").as("__ss"), col("code").as("__code"),
        col("codeword").as("__cv"))
    val q = emb.select(col(idCol).as("__id"),
      quantArr(col(vecCol), quantScale).as("__qv"))
    val codes = argminCode(intSubSlices(q, m, subLen), books, Seq("__id"))
    val lut = books
      .select(col("__ss"), col("__code"),
        id2(sliceS(typedLit(qq), col("__ss")), col("__cv")).as("__qd2"))
    val adc = codes.join(broadcast(lut), Seq("__ss", "__code"))
      .groupBy("__id").agg(sum(col("__qd2")).as("__adc"))
    val approx = adc
      .agg(TopKAgg.topK(col("__adc"), col("__id"), maxK, largest = false)
        .as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast(LongType).as("__ar"),
        col("e.id").as("__id"))
    val exact = q
      .select(col("__id"), id2(typedLit(qq), col("__qv")).as("__dx"))
      .agg(TopKAgg.topK(col("__dx"), col("__id"), maxK, largest = false)
        .as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast(LongType).as("__er"),
        col("e.id").as("__id"))
    recallGrid(exact, approx, ks)
  }

  /** Vector dimensionality from the frame's first row — the shared
    * contract probe ([[probeVector]]'s widening rules). */
  private def probeDim(emb: DataFrame, idCol: String,
      vecCol: String): Int = {
    val r = emb.select(size(col(vecCol)).as("d")).limit(1).collect()
    require(r.nonEmpty,
      s"empty frame — no $vecCol row to read the dimension from " +
        "(a serving batch whose probe extraction matched nothing?)")
    r(0).getInt(0)
  }

  // ------------------------------------------------------------------
  // Integer-domain PQ primitives, in ONE place. The ⌊x·scale⌋
  // quantizer and the long squared-distance fold were spelled as
  // local defs in fitPqBooksLloyd / pqLloydRecall /
  // ivfAdcResidualRecall; the residual production tier below would
  // have added a fourth and fifth copy — the seededRank lesson,
  // applied before the drift instead of after.
  // ------------------------------------------------------------------

  /** ⌊x·scale⌋ per element, as array<long> — the engine-wide
    * quantization rule ([[QuantSqDistExpr]]'s, spelled as a HOF so
    * the quantized ARRAY itself is a column residuals can subtract
    * in exact integers). */
  private def quantArr(c: Column, quantScale: Double): Column =
    transform(c, x => floor(x.cast(DoubleType) * lit(quantScale))
      .cast(LongType))

  /** Σ (aᵢ−bᵢ)² over two array<long> columns — exact long
    * arithmetic, sequential left fold. */
  private def intSqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Explode an integer frame (…, __qv) into its m contiguous
    * subvectors: (…, __ss, __sv), every other column carried. */
  private def intSubSlices(q: DataFrame, m: Int, subLen: Int): DataFrame =
    q.crossJoin(q.sparkSession.range(0, m).select(col("id").as("__ss")))
      .withColumn("__sv",
        slice(col("__qv"), col("__ss").cast("int") * subLen + 1,
          lit(subLen)))
      .drop("__qv")

  /** Integer PQ assignment: sliced rows (keys…, __ss, __sv) against a
    * BROADCAST integer codebook (__ss, __code, __cv) → argmin code per
    * (keys…, __ss), ties by ascending code (the lexicographic struct
    * min — every PQ assignment in the engine uses this rule). */
  private def argminCode(sub: DataFrame, books: DataFrame,
      keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    sub.join(broadcast(books), Seq("__ss"))
      .select(keyCols :+ col("__ss") :+
        struct(intSqDist(col("__sv"), col("__cv")).as("__d"), col("__code"))
          .as("__s"): _*)
      .groupBy(keyCols :+ col("__ss"): _*)
      .agg(min(col("__s")).as("__m"))
      .select(keyCols :+ col("__ss") :+ col("__m.__code").as("__code"): _*)
  }

  /** Coarse-assign an integer frame (__id, __qv) to its nearest
    * seeded centroid and subtract: (__id, __cell, __rv) — the
    * residual every production IVFADC index codes (Jégou '11). One
    * broadcast cross product with map-side argmin, then one broadcast
    * join to subtract the winning centroid. */
  private def residualAssign(q: DataFrame, cents: DataFrame): DataFrame = {
    val asg = q.crossJoin(broadcast(cents))
      .select(col("__id"), col("__qv"),
        struct(intSqDist(col("__qv"), col("__cqv")).as("__d"), col("__cent"))
          .as("__s"))
      .groupBy("__id")
      .agg(first(col("__qv")).as("__qv"), min(col("__s")).as("__m"))
      .select(col("__id"), col("__qv"), col("__m.__cent").as("__cell"))
    asg.join(broadcast(cents), asg("__cell") === cents("__cent"))
      .select(col("__id"), col("__cell"),
        zip_with(col("__qv"), col("__cqv"), (a, b) => a - b).as("__rv"))
  }

  /** RESIDUAL-encoded IVFADC recall audit — the spelling Jégou '11
    * actually ships: PQ codes the RESIDUAL x − c(x) (each vector
    * minus its coarse centroid), not the raw vector, and the query
    * builds one LUT PER PROBED CELL from its own residual q − c.
    * Raw-vector coding (q206/q209) spends codebook resolution
    * re-describing where the cell already is; residual coding spends
    * it all on the within-cell offset, which is why production IVFADC
    * indexes encode residuals. The per-cell LUT multiplies query-side
    * work by nProbe (still m·nCodes·nProbe integer distances — a
    * broadcast triviality) while per-candidate work stays m lookups.
    *
    * Everything is integer END TO END: vectors are quantized FIRST
    * (⌊x·scale⌋, the [[QuantSqDistExpr]] rule), so residuals are
    * exact integer differences and every downstream distance is plain
    * integer arithmetic — no float subtraction to drift between
    * engines, and the SQL oracle replays each stage verbatim.
    *
    * Degenerate contracts (the specs' pins), both consequences of
    * translation invariance d²((q−c) − (x−c)) = d²(q, x):
    *   - nCodes = n ⇒ each candidate is its own codeword, so the ADC
    *     distance IS the exact distance in every cell; with
    *     nProbe = nCents the recall is 1 at every k.
    *   - nCents = 1 ⇒ one shared translation, so codebook fit,
    *     assignment, and LUT all equal the raw-vector system's and
    *     the audit reproduces [[pqAdcRecall]] exactly.
    *
    * Shape at scale: same as [[ivfAdcRecall]] — one assignment cross
    * product (n·nCents, map-side argmin), candidate-bounded encode,
    * broadcast LUT join, bounded-heap rankings; the exact side is the
    * audit's offline ground-truth scan, not a query-path cost.
    *
    * Returns (k, n_overlap, recall_ppm) ordered by k. */
  def ivfAdcResidualRecall(emb: DataFrame, queryId: Long = 0L,
      ks: Seq[Int] = Seq(1, 5, 10), nCents: Int = 16, nProbe: Int = 4,
      m: Int = 8, nCodes: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding", quantScale: Double = 1e4): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1))
    require(nCents >= 1 && nProbe >= 1 && nProbe <= nCents)
    require(m >= 1 && nCodes >= 1)
    val spark = emb.sparkSession
    val maxK = ks.max
    val qraw = probeVector(emb, queryId, idCol, vecCol)
    val d = qraw.length
    require(d % m == 0, s"dim $d is not divisible by m=$m")
    val subLen = d / m
    // the query vector under the same ⌊x·scale⌋ rule the engine-side
    // quantizer applies (driver-side double math is IEEE-identical)
    val qq: Seq[Long] = qraw.map(x => math.floor(x * quantScale).toLong)
    def id2(a: Column, b: Column): Column = intSqDist(a, b)
    def sliceS(v: Column, s: Column): Column =
      slice(v, s.cast("int") * subLen + 1, lit(subLen))
    val q = emb.select(col(idCol).as("__id"),
      quantArr(col(vecCol), quantScale).as("__qv"))
    val cents = seededRank(q, "__id", nCents, "__cent")
      .select(col("__cent"), col("__qv").as("__cqv"))
    // nearest cell per vector, then the residual against ITS centroid
    val resid = residualAssign(q, cents)
    // residual codebook: the SAME hash-ranked medoid rows as the raw
    // fit, but their residuals — bounded at nCodes rows
    val med = seededRank(resid.select(col("__id"), col("__rv")),
      "__id", nCodes, "__code")
    val ss = spark.range(0, m).select(col("id").as("__ss"))
    val books = med.crossJoin(ss)
      .select(col("__ss"), col("__code"),
        sliceS(col("__rv"), col("__ss")).as("__cv"))
    // probed cells + the query's PER-CELL residual (the Jégou LUT
    // translation — this is the line raw-vector coding lacks)
    val probe = cents
      .select(col("__cent"), col("__cqv"),
        id2(typedLit(qq), col("__cqv")).as("__dq"))
      .orderBy(col("__dq"), col("__cent")).limit(nProbe)
      .select(col("__cent").as("__cell"),
        zip_with(typedLit(qq), col("__cqv"), (a, b) => a - b).as("__qr"))
    val cand = resid.join(broadcast(probe.select("__cell")),
      Seq("__cell"), "left_semi")
    val codes = cand.crossJoin(ss)
      .select(col("__id"), col("__cell"), col("__ss"),
        sliceS(col("__rv"), col("__ss")).as("__sv"))
      .join(broadcast(books), Seq("__ss"))
      .select(col("__id"), col("__cell"), col("__ss"),
        struct(id2(col("__sv"), col("__cv")).as("__d"), col("__code"))
          .as("__s"))
      .groupBy("__id", "__cell", "__ss")
      .agg(min(col("__s")).as("__m"))
      .select(col("__id"), col("__cell"), col("__ss"),
        col("__m.__code").as("__code"))
    val lut = probe.crossJoin(books)
      .select(col("__cell"), col("__ss"), col("__code"),
        id2(sliceS(col("__qr"), col("__ss")), col("__cv")).as("__qd2"))
    val adc = codes.join(broadcast(lut), Seq("__cell", "__ss", "__code"))
      .groupBy("__id").agg(sum(col("__qd2")).as("__adc"))
    val approx = adc
      .agg(TopKAgg.topK(col("__adc"), col("__id"), maxK, largest = false)
        .as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast(LongType).as("__ar"),
        col("e.id").as("__id"))
    val exact = q
      .select(col("__id"), id2(typedLit(qq), col("__qv")).as("__dx"))
      .agg(TopKAgg.topK(col("__dx"), col("__id"), maxK, largest = false)
        .as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast(LongType).as("__er"),
        col("e.id").as("__id"))
    recallGrid(exact, approx, ks)
  }

  /** Encode a batch against a stored/fitted INTEGER codebook
    * ([[fitPqBooksLloyd]]'s output, or the same frame reloaded via
    * [[loadPq]]) — [[encodePq]]'s maintenance stance for the
    * LLOYD-fit book: q218 measured that one Lloyd round buys
    * +200 000 ppm recall@10 over the medoid book, so production
    * should FREEZE the Lloyd book and encode increments against it;
    * this is that encode. [[encodePq]] itself cannot serve: its
    * [[QuantSqDistExpr]] distance quantizes BOTH sides by `scale`,
    * which is correct for float medoid codewords but would re-scale
    * the already-integer Lloyd codewords. Here the batch quantizes
    * by ⌊x·scale⌋ once and every distance is plain long arithmetic —
    * the exact arithmetic the book was fit in. Geometry (m, subLen)
    * is read from the codebook frame itself ([[pqGeometry]]'s
    * desync refusal), never from caller arguments.
    *
    * Shape at scale: identical to [[encodePq]] — broadcast m·nCodes
    * codebook, one map-side cross product per subspace with
    * map-side-combined argmin, shuffle n·m three-integer rows.
    *
    * Returns (idCol, subspace, code) ordered by (idCol, subspace). */
  def encodePqLloyd(emb: DataFrame, books: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    val (m, subLen) = pqGeometry(books)
    val dim = probeDim(emb, idCol, vecCol)
    require(dim == m * subLen,
      s"embedding dim $dim does not match stored codebook geometry " +
        s"m=$m × subLen=$subLen")
    val b = books.select(col("subspace").cast(LongType).as("__ss"),
      col("code").as("__code"), col("codeword").as("__cv"))
    val q = emb.select(col(idCol).as("__id"),
      quantArr(col(vecCol), quantScale).as("__qv"))
    argminCode(intSubSlices(q, m, subLen), b, Seq("__id"))
      .select(col("__id").as(idCol), col("__ss").as("subspace"),
        col("__code").as("code"))
      .orderBy(idCol, "subspace")
  }

  /** Batched ADC retrieval over INTEGER (Lloyd-fit) codebooks — the
    * [[adcTopKBatch]] query tier with the q218 winner's book: codes
    * from [[encodePqLloyd]], per-query LUTs as one broadcast
    * (query × subspace × code) frame of exact long distances, codes
    * shuffled once, map-side-combined per-(query, id) sums,
    * [[TopKAgg]] bounded heaps. Ties by ascending id. This is also
    * the nCents = 1 degenerate of [[ivfAdcTopKBatchResidual]]
    * (translation invariance — the spec pins it), which is what
    * makes the residual tier auditable against a simpler system.
    *
    * Returns (queryIdCol, rank, idCol, adc_d2) ordered by
    * (queryIdCol, rank). */
  def adcTopKBatchLloyd(codes: DataFrame, books: DataFrame,
      queries: DataFrame, k: Int = 10, idCol: String = "vec_id",
      queryIdCol: String = "query_id", queryVecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    require(k >= 1)
    val (m, subLen) = pqGeometry(books)
    val qdim = probeDim(queries, queryIdCol, queryVecCol)
    require(qdim == m * subLen,
      s"query dim $qdim does not match codebook geometry " +
        s"m=$m × subLen=$subLen")
    val b = books.select(col("subspace").cast(LongType).as("__ss"),
      col("code").as("__code"), col("codeword").as("__cv"))
    val qq = queries.select(col(queryIdCol).as("__qid"),
      quantArr(col(queryVecCol), quantScale).as("__qqv"))
    val lut = qq.crossJoin(b)
      .select(col("__qid"), col("__ss").as("subspace"),
        col("__code").as("code"),
        intSqDist(slice(col("__qqv"), col("__ss").cast("int") * subLen + 1,
          lit(subLen)), col("__cv")).as("__qd2"))
    codes.join(broadcast(lut), Seq("subspace", "code"))
      .groupBy(col("__qid"), col(idCol))
      .agg(sum(col("__qd2")).as("__adc"))
      .groupBy(col("__qid"))
      .agg(TopKAgg.topK(col("__adc"), col(idCol), k, largest = false)
        .as("tk"))
      .select(col("__qid"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("__qid").as(queryIdCol),
        (col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as(idCol), col("e.ord").cast(LongType).as("adc_d2"))
      .orderBy(queryIdCol, "rank")
  }

  /** The PRODUCTION retrieval tier, composed from the three measured
    * winners (the r18 verdict's ask): [[ivfAdcTopKBatch]]'s coarse
    * routing + batching, [[ivfAdcResidualRecall]]'s residual coding
    * (PQ codes x − c(x), one LUT per probed cell — the spelling
    * Jégou '11 ships), and [[fitPqBooksLloyd]]'s k-means-refined
    * codebooks (q218: +200 000 ppm recall@10 over medoids; q214:
    * residuals buy nothing UNDER medoid books — the composition is
    * where both results point).
    *
    * Offline: quantize once (⌊x·scale⌋ — residuals are exact integer
    * differences end to end), assign each vector to its nearest
    * seeded cell, fit ONE shared residual codebook with `rounds`
    * integer Lloyd rounds ([[fitPqBooksLloydInt]] — the IDENTICAL
    * program the raw fit runs), encode every residual, stamp codes
    * with their cell. Online: queries rank the broadcast centroid
    * frame, take nProbe cells, form their PER-CELL residual q − c,
    * build per-(query, cell) LUTs (|queries|·nProbe·m·nCodes rows of
    * three integers — broadcast), and the cell-keyed join fans each
    * code row only to the queries probing its cell; per-(query, id)
    * sums map-side combine and [[TopKAgg]] bounds each query's
    * exchange at k rows. Per-query scan is n·nProbe/nCents code rows
    * at m lookups each.
    *
    * Degenerate contracts (the specs' pins, both translation
    * invariance d²((q−c)−(x−c)) = d²(q, x)):
    *   - nCents = 1 ⇒ one shared translation: books, codes, LUTs and
    *     ranking all equal the raw-vector Lloyd full scan —
    *     [[adcTopKBatchLloyd]] over [[encodePqLloyd]] codes.
    *   - nCodes = n ∧ nProbe = nCents ⇒ every residual is its own
    *     codeword and every cell is probed: the ranking IS the exact
    *     integer ranking ([[ivfAdcResidualLloydRecall]] reads 10⁶ ppm
    *     at every k).
    *
    * Returns (queryIdCol, rank, idCol, adc_d2) ordered by
    * (queryIdCol, rank). */
  def ivfAdcTopKBatchResidual(emb: DataFrame, queries: DataFrame,
      k: Int = 10, nCents: Int = 16, nProbe: Int = 4, m: Int = 8,
      nCodes: Int = 16, rounds: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    require(k >= 1)
    require(nCents >= 1 && nProbe >= 1 && nProbe <= nCents)
    require(m >= 1 && nCodes >= 1 && rounds >= 0)
    val dim = probeDim(emb, idCol, vecCol)
    require(dim % m == 0, s"dim $dim is not divisible by m=$m")
    val qdim = probeDim(queries, queryIdCol, queryVecCol)
    require(qdim == dim,
      s"query dim $qdim does not match corpus dim $dim")
    val subLen = dim / m
    val (cents, books, codes) = residualIndexFrames(emb, nCents, m,
      nCodes, rounds, idCol, vecCol, quantScale, dim)
    val qq = queries.select(col(queryIdCol).as("__qid"),
      quantArr(col(queryVecCol), quantScale).as("__qqv"))
    val qres = residualProbe(qq, cents, nProbe)
    residualRankTail(codes, books, qres, k, subLen, idCol, queryIdCol)
  }

  /** Offline build of the residual index, shared by the inline tier
    * ([[ivfAdcTopKBatchResidual]]) and the stored one
    * ([[saveResidualIndex]]): integer centroids (__cent, __cqv),
    * Lloyd residual books (__ss, __code, __cv), cell-stamped codes
    * (__id, __cell, __ss, __code). */
  private def residualIndexFrames(emb: DataFrame, nCents: Int, m: Int,
      nCodes: Int, rounds: Int, idCol: String, vecCol: String,
      quantScale: Double, dim: Int): (DataFrame, DataFrame, DataFrame) = {
    val subLen = dim / m
    val (_, cents, resid) = residualFrames(emb, nCents, idCol, vecCol,
      quantScale)
    val books = fitPqBooksLloydInt(
      resid.select(col("__id"), col("__rv").as("__qv")),
      m, nCodes, rounds, dim)
      .select(col("subspace").as("__ss"), col("code").as("__code"),
        col("codeword").as("__cv"))
    val codes = argminCode(
      intSubSlices(resid.select(col("__id"), col("__cell"),
        col("__rv").as("__qv")), m, subLen),
      books, Seq("__id", "__cell"))
    (cents, books, codes)
  }

  /** The residual tier's corpus-side prefix, shared by every residual
    * consumer: the quantized frame (__id, __qv), the seeded integer
    * centroid frame (__cent, __cqv), and the residual assignment
    * (__id, __cell, __rv). */
  private def residualFrames(emb: DataFrame, nCents: Int, idCol: String,
      vecCol: String, quantScale: Double): (DataFrame, DataFrame, DataFrame) = {
    val q = emb.select(col(idCol).as("__id"),
      quantArr(col(vecCol), quantScale).as("__qv"))
    val cents = seededRank(q, "__id", nCents, "__cent")
      .select(col("__cent"), col("__qv").as("__cqv"))
    val resid = residualAssign(q, cents)
    (q, cents, resid)
  }

  /** Online routing for the residual tier: each query's nProbe
    * nearest cells and its PER-CELL residual q − c (the Jégou line
    * raw-vector coding lacks — the LUT downstream is keyed
    * (query, cell, s, code)). Returns (__qid, __cell, __qr). */
  private def residualProbe(qq: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame = {
    val qprobe = qq.crossJoin(broadcast(cents))
      .groupBy("__qid")
      .agg(first(col("__qqv")).as("__qqv"),
        TopKAgg.topK(intSqDist(col("__qqv"), col("__cqv")), col("__cent"),
          nProbe, largest = false).as("__pr"))
      .select(col("__qid"), col("__qqv"),
        explode(transform(col("__pr"), e => e("id"))).as("__cell"))
    qprobe.join(broadcast(cents), qprobe("__cell") === cents("__cent"))
      .select(col("__qid"), col("__cell"),
        zip_with(col("__qqv"), col("__cqv"), (a, b) => a - b).as("__qr"))
  }

  /** The residual tier's per-(query, id) ADC sums — per-(query, cell)
    * LUTs from the residual books, the cell-keyed fan-out join,
    * map-side-combined sums. Factored out of [[residualRankTail]] so
    * the exact-re-rank rung ([[ivfAdcResidualRerankRecall]]) reads the
    * SAME sums the serving heap ranks — one ADC program, two tails.
    * Returns (__qid, __id, __adc). */
  private def residualAdcSums(codes: DataFrame, books: DataFrame,
      qres: DataFrame, subLen: Int): DataFrame = {
    val lut = qres.crossJoin(books)
      .select(col("__qid"), col("__cell"), col("__ss"), col("__code"),
        intSqDist(slice(col("__qr"), col("__ss").cast("int") * subLen + 1,
          lit(subLen)), col("__cv")).as("__qd2"))
    codes.join(broadcast(qres.select(col("__qid"), col("__cell"))),
        Seq("__cell"))
      .join(broadcast(lut), Seq("__qid", "__cell", "__ss", "__code"))
      .groupBy("__qid", "__id")
      .agg(sum(col("__qd2")).as("__adc"))
  }

  /** The residual tier's serve tail: [[residualAdcSums]] then bounded
    * per-query heaps. */
  private def residualRankTail(codes: DataFrame, books: DataFrame,
      qres: DataFrame, k: Int, subLen: Int, idCol: String,
      queryIdCol: String): DataFrame = {
    residualAdcSums(codes, books, qres, subLen)
      .groupBy("__qid")
      .agg(TopKAgg.topK(col("__adc"), col("__id"), k, largest = false)
        .as("tk"))
      .select(col("__qid"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("__qid").as(queryIdCol),
        (col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as(idCol), col("e.ord").cast(LongType).as("adc_d2"))
      .orderBy(queryIdCol, "rank")
  }

  /** Freeze the WHOLE residual index — the [[saveIvf]]/[[savePq]]
    * stance applied to the production tier: `dir/cents` (cell,
    * centroid — nCents integer rows), `dir/books` (the Lloyd residual
    * codebook, [[savePq]]'s schema), and `dir/codes` PARTITIONED BY
    * cell, one directory per inverted list. The layout IS the scale
    * story (q97's): [[serveResidualIndex]] collects the batch's
    * probed cells (≤ |queries|·nProbe values, bounded by contract)
    * and reads the code store through a STATIC `cell IN (…)`
    * partition filter — a 4-probe batch against a 1000-cell stored
    * corpus reads the probed directories, never the corpus
    * (plan-asserted in the spec). Production fits once per re-train
    * window and serves from the frozen frames; a refit would silently
    * re-key every stored code. */
  def saveResidualIndex(emb: DataFrame, dir: String, nCents: Int = 16,
      m: Int = 8, nCodes: Int = 16, rounds: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      quantScale: Double = 1e4): Unit = {
    require(nCents >= 1 && m >= 1 && nCodes >= 1 && rounds >= 0)
    val dim = probeDim(emb, idCol, vecCol)
    require(dim % m == 0, s"dim $dim is not divisible by m=$m")
    val (cents, books, codes) = residualIndexFrames(emb, nCents, m,
      nCodes, rounds, idCol, vecCol, quantScale, dim)
    cents.select(col("__cent").as("cell"), col("__cqv").as("centroid"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/cents")
    books.select(col("__ss").as("subspace"), col("__code").as("code"),
        col("__cv").as("codeword"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/books")
    codes.select(col("__id").as(idCol), col("__ss").as("subspace"),
        col("__code").as("code"), col("__cell").as("cell"))
      // hash-distribute by cell before the partitioned write (guide
      // §6, round 21 — the saveIvf rationale): one file per cell per
      // holding task instead of tasks×cells tiny files, which both
      // the write commit and every later partition-pruned serve scan
      // pay for
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
  }

  /** APPEND a batch to a stored residual index WITHOUT refitting —
    * the maintenance operation that completes the residual tier's
    * q194/q112 stance: the increment is coarse-assigned against the
    * FROZEN centroid frame, its residuals are encoded against the
    * FROZEN Lloyd codebook, and the new codes append into the
    * existing cell partitions (existing directories' files are never
    * rewritten — parquet append). Re-fitting would silently re-key
    * every stored code's meaning (an ADC scan would mix codes from
    * two codebooks into one integer sum) AND move every residual's
    * origin; frozen frames trade assignment optimality for zero
    * refit, the standard IVF maintenance contract. Batch-split
    * invariance is the spec's pin: appending an increment in one
    * batch or two produces the same served rankings.
    *
    * UNIQUE-ID CONTRACT: the increment's ids must not already exist
    * in the stored codes — parquet append cannot deduplicate, and a
    * replayed append would store a vector's m code rows twice, so the
    * serving sum for that (query, id) group would silently double
    * (wrong distance, corrupted ranking). Idempotence is the
    * ARRIVAL path's job: the streaming twin
    * ([[graft.streaming.EmbStream.appendResidualStream]]) anti-joins
    * each micro-batch against the stored ids before appending
    * (foreachBatch is only at-least-once — its checkpoint dedups
    * clean restarts but replays a batch that crashed between the
    * parquet append and the offset commit), and a batch caller
    * retrying a failed append must do the same: re-derive the
    * not-yet-stored id range first (an anti-join against
    * `dir/codes`, bounded to the increment's id range). */
  def appendResidualIndex(spark: org.apache.spark.sql.SparkSession,
      increment: DataFrame, dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", quantScale: Double = 1e4): Unit = {
    val books = spark.read.parquet(s"$dir/books")
    val (m, subLen) = pqGeometry(books)
    val dim = probeDim(increment, idCol, vecCol)
    require(dim == m * subLen,
      s"increment dim $dim does not match stored index geometry " +
        s"m=$m × subLen=$subLen")
    val cents = spark.read.parquet(s"$dir/cents")
      .select(col("cell").as("__cent"), col("centroid").as("__cqv"))
    val b = books.select(col("subspace").as("__ss"),
      col("code").as("__code"), col("codeword").as("__cv"))
    val q = increment.select(col(idCol).as("__id"),
      quantArr(col(vecCol), quantScale).as("__qv"))
    val resid = residualAssign(q, cents)
    argminCode(
      intSubSlices(resid.select(col("__id"), col("__cell"),
        col("__rv").as("__qv")), m, subLen),
      b, Seq("__id", "__cell"))
      .select(col("__id").as(idCol), col("__ss").as("subspace"),
        col("__code").as("code"), col("__cell").as("cell"))
      // same hash-distribution as [[saveResidualIndex]] (guide §6)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
  }

  /** Serve a probe batch from a STORED residual index
    * ([[saveResidualIndex]]) — the online tier production actually
    * runs: load the two tiny frames (cents, books), route the batch,
    * COLLECT the probed cell ids (bounded: ≤ min(|queries|·nProbe,
    * nCents) longs — the q135 bounded-collect idiom), and read the
    * partitioned code store through a static `cell IN (…)` filter so
    * the scan is bounded by the cells probed, not corpus size. The
    * ranking is the exact [[ivfAdcTopKBatchResidual]] tail — the
    * storage hop must be semantically invisible (spec + q225's
    * shared oracle pin it).
    *
    * Returns (queryIdCol, rank, idCol, adc_d2) ordered by
    * (queryIdCol, rank). */
  def serveResidualIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int = 10, nProbe: Int = 4,
      idCol: String = "vec_id", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    require(k >= 1 && nProbe >= 1)
    val (b, _, qres, codes, subLen) = servePrunedFrames(spark, dir,
      queries, nProbe, idCol, queryIdCol, queryVecCol, quantScale)
    residualRankTail(codes, b, qres, k, subLen, idCol, queryIdCol)
  }

  /** The stored tier's shared serve prefix: load the two tiny frames,
    * route the batch, collect the probed cells (bounded:
    * ≤ min(|queries|·nProbe, nCents) longs — the q135 bounded-collect
    * idiom) and push them into the code read as a static partition
    * filter. Returns (books, qq, qres, pruned codes, subLen). */
  private def servePrunedFrames(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, nProbe: Int, idCol: String,
      queryIdCol: String, queryVecCol: String, quantScale: Double)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Int) = {
    val books = spark.read.parquet(s"$dir/books")
    val (m, subLen) = pqGeometry(books)
    val qdim = probeDim(queries, queryIdCol, queryVecCol)
    require(qdim == m * subLen,
      s"query dim $qdim does not match stored index geometry " +
        s"m=$m × subLen=$subLen")
    val cents = spark.read.parquet(s"$dir/cents")
      .select(col("cell").as("__cent"), col("centroid").as("__cqv"))
    val b = books.select(col("subspace").as("__ss"),
      col("code").as("__code"), col("codeword").as("__cv"))
    val qq = queries.select(col(queryIdCol).as("__qid"),
      quantArr(col(queryVecCol), quantScale).as("__qqv"))
    // qres feeds two consumers (the probed-cell collect below and the
    // lazy rank tail) but is deliberately NOT checkpointed: it is a
    // bounded frame (|queries|·nProbe rows routed through one
    // broadcast cross product over the nCents-row centroid frame), so
    // recomputing it when the tail is consumed costs one trivial
    // broadcast pass — where a localCheckpoint here pinned
    // MEMORY_AND_DISK blocks until driver GC on EVERY serve call,
    // accumulating across a production per-batch serving loop (the
    // round-19 ADVICE leak).
    val qres = residualProbe(qq, cents, nProbe)
    val probedCells = qres.select(col("__cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val codes = spark.read.parquet(s"$dir/codes")
      .filter(col("cell").isin(probedCells: _*))
      .select(col(idCol).as("__id"), col("cell").as("__cell"),
        col("subspace").as("__ss"), col("code").as("__code"))
    (b, qq, qres, codes, subLen)
  }

  /** The COMPLETE production read path, end to end: serve a probe
    * batch from the STORED residual index ([[serveResidualIndex]]'s
    * partition-pruned scan) and RE-RANK the top-`rerankC` ADC
    * candidates by exact integer distance against the raw vector
    * store (IVFADC+R over the frozen index — [[
    * ivfAdcResidualRerankRecall]] measured what the window buys;
    * this is the operator a deployment actually calls). `vectors` is
    * the id-keyed raw store (at 100 TB a point-lookup table; here the
    * embeddings frame): only the batch's |queries|·rerankC candidate
    * ids are fetched from it — the candidate frame is BROADCAST into
    * a hash join against the store (plus a driver-side [min,max] id
    * range for row-group pruning), so the raw store is probed, never
    * scanned, no matter the batch size, and everything else online
    * touches only the two tiny frames plus the probed cell
    * directories. The ADC retrieval itself is evaluated ONCE (a
    * bounded |queries|·rerankC collect rebuilt as a local frame) —
    * the fetch and the returned re-rank plan share it.
    *
    * Exactness contract (the spec's pin): the emitted `exact_d2` IS
    * the full-precision integer distance, so with every cell probed
    * and rerankC ≥ n the output equals the exact top-k over the
    * corpus — the stored index degrades gracefully into brute force.
    *
    * Returns (queryIdCol, rank, idCol, exact_d2) ordered by
    * (queryIdCol, rank). */
  /** The re-rank serve's RETRIEVAL plan: stored-tier ADC top-`rerankC`
    * as (__qid, __id) pairs, plus the quantized query frame. Factored
    * out of [[serveResidualIndexRerank]] — which evaluates it exactly
    * once through a bounded collect — so the partition-pruning plan
    * spec can assert `PartitionFilters: cell IN (…)` on the subtree
    * that actually executes (the returned re-rank frame no longer
    * contains the retrieval, by design). */
  private[graft] def serveResidualAdcTopPlan(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, rerankC: Int, nProbe: Int,
      idCol: String = "vec_id", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding",
      quantScale: Double = 1e4): (DataFrame, DataFrame) = {
    val (b, qq, qres, codes, subLen) = servePrunedFrames(spark, dir,
      queries, nProbe, idCol, queryIdCol, queryVecCol, quantScale)
    val adcTop = residualAdcSums(codes, b, qres, subLen)
      .groupBy("__qid")
      .agg(TopKAgg.topK(col("__adc"), col("__id"), rerankC,
        largest = false).as("tk"))
      .select(col("__qid"), explode(transform(col("tk"), e => e("id")))
        .as("__id"))
    (adcTop, qq)
  }

  def serveResidualIndexRerank(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, vectors: DataFrame, k: Int = 10,
      rerankC: Int = 40, nProbe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    require(k >= 1 && rerankC >= k && nProbe >= 1)
    val (adcTopPlan, qq) = serveResidualAdcTopPlan(spark, dir, queries,
      rerankC, nProbe, idCol, queryIdCol, queryVecCol, quantScale)
    // ONE evaluation of the ADC retrieval stage (round-21, the
    // round-20 ADVICE): collect the (query, candidate) pairs —
    // bounded at |queries|·rerankC rows of two longs by construction
    // — and rebuild them as a local frame, so the candidate fetch AND
    // the returned re-rank plan share one materialized ADC pass
    // instead of executing the codes scan + LUT fan-out + per-query
    // heaps twice (the old candIds collect ran the whole retrieval a
    // second time for the final join). A localCheckpoint would share
    // it too but pins MEMORY_AND_DISK blocks until driver GC on
    // EVERY serve call — the round-19 leak shape in a production
    // per-batch serving loop; the bounded collect leaves nothing
    // registered.
    import spark.implicits._
    val pairs = adcTopPlan.collect().map(r => (r.getLong(0), r.getLong(1)))
    val adcTop = spark.createDataset(pairs.toSeq).toDF("__qid", "__id")
    // Bounded point fetch from the raw store: the ≤ |queries|·rerankC
    // DISTINCT candidate ids meet the store through a BROADCAST hash
    // join (build side = the tiny candidate frame), NOT a collected
    // isin literal list — at the batch scale this operator cites
    // (10⁶ queries/day), a 10k-query batch × C=40 made a 400k-literal
    // In predicate: a plan-size/driver bottleneck, where the
    // broadcast relation ships the same bytes once (guide §3.1; the
    // round-20 verdict's weak). A driver-side [min,max] id range
    // keeps parquet row-group pruning on the store's scan without
    // literal explosion (bounded-collect literals stay the mechanism
    // only where they are the POINT — the partition filter in
    // servePrunedFrames).
    // empty candidate set (probed cells with no stored codes) must
    // yield an empty result, exactly as the old empty-isin did: an
    // inverted [0,-1] range keeps the plan valid and row-free
    val candIds = pairs.map(_._2)
    val (idLo, idHi) =
      if (candIds.isEmpty) (0L, -1L) else (candIds.min, candIds.max)
    val candDf = adcTop.select(col("__id").as(idCol)).distinct()
    val fetched = vectors
      .filter(col(idCol).between(idLo, idHi))
      .join(broadcast(candDf), Seq(idCol))
      .select(col(idCol).as("__id"),
        quantArr(col(vecCol), quantScale).as("__qv"))
    adcTop.join(fetched, Seq("__id"))
      .join(broadcast(qq), Seq("__qid"))
      .select(col("__qid"), col("__id"),
        intSqDist(col("__qv"), col("__qqv")).as("__dx"))
      .groupBy("__qid")
      .agg(TopKAgg.topK(col("__dx"), col("__id"), k, largest = false)
        .as("tk"))
      .select(col("__qid"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("__qid").as(queryIdCol),
        (col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as(idCol), col("e.ord").cast(LongType).as("exact_d2"))
      .orderBy(queryIdCol, "rank")
  }

  /** [[ivfAdcResidualLloydRecall]] swept over nProbe values with ONE
    * offline build, ONE encode and ONE exact ranking — the
    * engine-side twin of the q227 oracle's shared replay: a
    * candidate's residual ADC distance depends only on (query, its
    * OWN cell), never on the probe set, so the per-(query, candidate)
    * sums are computed once over ALL cells and the ranking is
    * re-restricted per nProbe by each cell's routing rank (running
    * the single-point audit per nProbe re-fits the identical
    * nProbe-independent index |nProbes| times — measured 12.8 s as
    * five separate builds in the round-19 battery). Audit-scale by
    * contract: the all-cells LUT is |queries|·nCents·m·nCodes rows
    * and the per-np ranking window runs over |queries|·n·|nProbes|
    * candidate rows — this is the OFFLINE tuner read, not the query
    * path.
    *
    * Returns (nprobe, queryIdCol, k, n_overlap, recall_ppm) ordered
    * by (nprobe, queryIdCol, k), with the full grid filled. */
  def ivfAdcResidualLloydRecallSweep(emb: DataFrame, queries: DataFrame,
      ks: Seq[Int] = Seq(1, 5, 10), nCents: Int = 16,
      nProbes: Seq[Int] = Seq(1, 2, 4, 8, 16), m: Int = 8,
      nCodes: Int = 16, rounds: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1))
    require(nProbes.nonEmpty &&
      nProbes.forall(np => np >= 1 && np <= nCents))
    val spark = emb.sparkSession
    val maxK = ks.max
    val dim = probeDim(emb, idCol, vecCol)
    require(dim % m == 0, s"dim $dim is not divisible by m=$m")
    require(probeDim(queries, queryIdCol, queryVecCol) == dim,
      s"query dim does not match corpus dim $dim")
    val subLen = dim / m
    val (cents, books, codes) = residualIndexFrames(emb, nCents, m,
      nCodes, rounds, idCol, vecCol, quantScale, dim)
    val qq = queries.select(col(queryIdCol).as("__qid"),
      quantArr(col(queryVecCol), quantScale).as("__qqv"))
    // every (query, cell): residual + the cell's ROUTING RANK (the
    // per-np restriction key; ties by ascending cell — TopKAgg's rule)
    val c2 = cents.select(col("__cent").as("__cell"), col("__cqv"))
    val qrank = qq.crossJoin(broadcast(c2))
      .select(col("__qid"), col("__cell"),
        zip_with(col("__qqv"), col("__cqv"), (a, b) => a - b).as("__qr"),
        intSqDist(col("__qqv"), col("__cqv")).as("__d"))
      .withColumn("__crk", row_number().over(
        Window.partitionBy("__qid").orderBy(col("__d"), col("__cell")))
        .cast(LongType))
      .drop("__d")
    val lut = qrank.crossJoin(books)
      .select(col("__qid"), col("__cell"), col("__ss"), col("__code"),
        intSqDist(slice(col("__qr"), col("__ss").cast("int") * subLen + 1,
          lit(subLen)), col("__cv")).as("__qd2"))
    val sums = codes
      .join(broadcast(qrank.select(col("__qid"), col("__cell"))),
        Seq("__cell"))
      .join(broadcast(lut), Seq("__qid", "__cell", "__ss", "__code"))
      .groupBy("__qid", "__id", "__cell")
      .agg(sum(col("__qd2")).as("__adc"))
    val npDf = spark.range(0, nProbes.length).select(
      element_at(typedLit(nProbes.map(_.toLong)), col("id").cast("int") + 1)
        .as("nprobe"))
    val approx = sums
      .join(broadcast(qrank.select(col("__qid"), col("__cell"),
        col("__crk"))), Seq("__qid", "__cell"))
      .crossJoin(broadcast(npDf))
      .filter(col("__crk") <= col("nprobe"))
      .withColumn("__ar", row_number().over(
        Window.partitionBy("nprobe", "__qid")
          .orderBy(col("__adc"), col("__id"))).cast(LongType))
      .filter(col("__ar") <= maxK)
      .select(col("nprobe"), col("__qid"), col("__id"), col("__ar"))
    val q = emb.select(col(idCol).as("__id"),
      quantArr(col(vecCol), quantScale).as("__qv"))
    val exact = q.crossJoin(broadcast(qq))
      .groupBy("__qid")
      .agg(TopKAgg.topK(intSqDist(col("__qv"), col("__qqv")), col("__id"),
        maxK, largest = false).as("tk"))
      .select(col("__qid"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("__qid"), (col("pos") + 1).cast(LongType).as("__er"),
        col("e.id").as("__id"))
    val ksDf = spark.range(0, ks.length).select(
      element_at(typedLit(ks.map(_.toLong)), col("id").cast("int") + 1)
        .as("k"))
    val hits = exact.join(approx, Seq("__qid", "__id"))
      .crossJoin(broadcast(ksDf))
      .filter(col("__er") <= col("k") && col("__ar") <= col("k"))
      .groupBy("nprobe", "__qid", "k").agg(count(lit(1)).as("__c"))
    qq.select(col("__qid")).crossJoin(broadcast(npDf))
      .crossJoin(broadcast(ksDf))
      .join(hits, Seq("nprobe", "__qid", "k"), "left")
      .select(col("nprobe"), col("__qid").as(queryIdCol), col("k"),
        coalesce(col("__c"), lit(0L)).as("n_overlap"))
      .withColumn("recall_ppm", expr("(n_overlap * 1000000) div k"))
      .orderBy("nprobe", queryIdCol, "k")
  }

  /** COMPOSED recall audit for [[ivfAdcTopKBatchResidual]] — the
    * q209 audit algebra applied to the residual-coded, Lloyd-booked,
    * IVF-routed batch tier, per query: the batch's top-maxK ranking
    * joined against each query's exact integer top-maxK over the FULL
    * corpus, overlap counted per (query, k), and the
    * (query × k) grid FILLED so a query whose probed cells miss the
    * whole exact top-k reads (query, k, 0, 0) instead of vanishing
    * (the q213 grid lesson). The exact side is one corpus × batch
    * scan with per-query bounded heaps — an offline audit cost.
    *
    * Returns (queryIdCol, k, n_overlap, recall_ppm) ordered by
    * (queryIdCol, k). */
  def ivfAdcResidualLloydRecall(emb: DataFrame, queries: DataFrame,
      ks: Seq[Int] = Seq(1, 5, 10), nCents: Int = 16, nProbe: Int = 4,
      m: Int = 8, nCodes: Int = 16, rounds: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", queryVecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1))
    val spark = emb.sparkSession
    val maxK = ks.max
    val approx = ivfAdcTopKBatchResidual(emb, queries, maxK, nCents,
      nProbe, m, nCodes, rounds, idCol, vecCol, queryIdCol, queryVecCol,
      quantScale)
      .select(col(queryIdCol).as("__qid"), col("rank").as("__ar"),
        col(idCol).as("__id"))
    val q = emb.select(col(idCol).as("__id"),
      quantArr(col(vecCol), quantScale).as("__qv"))
    val qq = queries.select(col(queryIdCol).as("__qid"),
      quantArr(col(queryVecCol), quantScale).as("__qqv"))
    val exact = q.crossJoin(broadcast(qq))
      .groupBy("__qid")
      .agg(TopKAgg.topK(intSqDist(col("__qv"), col("__qqv")), col("__id"),
        maxK, largest = false).as("tk"))
      .select(col("__qid"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("__qid"), (col("pos") + 1).cast(LongType).as("__er"),
        col("e.id").as("__id"))
    val ksDf = spark.range(0, ks.length).select(
      element_at(typedLit(ks.map(_.toLong)), col("id").cast("int") + 1)
        .as("k"))
    val hits = exact.join(approx, Seq("__qid", "__id"))
      .crossJoin(broadcast(ksDf))
      .filter(col("__er") <= col("k") && col("__ar") <= col("k"))
      .groupBy("__qid", "k").agg(count(lit(1)).as("__c"))
    qq.select(col("__qid")).crossJoin(broadcast(ksDf))
      .join(hits, Seq("__qid", "k"), "left")
      .select(col("__qid").as(queryIdCol), col("k"),
        coalesce(col("__c"), lit(0L)).as("n_overlap"))
      .withColumn("recall_ppm", expr("(n_overlap * 1000000) div k"))
      .orderBy(queryIdCol, "k")
  }

  /** Exact integer top-maxK of a query batch against the corpus — the
    * shared ground-truth side of the residual-tier audits: one
    * corpus × batch broadcast scan with per-query bounded heaps (an
    * offline audit cost, never a query-path one). `q` is (__id, __qv),
    * `qq` is (__qid, __qqv). Returns (__qid, __er, __id). */
  private def exactBatchRanks(q: DataFrame, qq: DataFrame,
      maxK: Int): DataFrame =
    q.crossJoin(broadcast(qq))
      .groupBy("__qid")
      .agg(TopKAgg.topK(intSqDist(col("__qv"), col("__qqv")), col("__id"),
        maxK, largest = false).as("tk"))
      .select(col("__qid"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("__qid"), (col("pos") + 1).cast(LongType).as("__er"),
        col("e.id").as("__id"))

  /** EXACT RE-RANK rung on the residual production tier (IVFADC+R,
    * Jégou '11 §V): q227 measured the tier QUANTIZATION-bound —
    * recall flat in nProbe, k=1 recall dipping as probes grow because
    * ADC interlopers outrank true neighbors the codes cannot
    * distinguish. The standard production fix is a re-rank window:
    * retrieve the top-C candidates by ADC, fetch THOSE C raw vectors
    * from the id-keyed vector store (a bounded |queries|·C point
    * fetch — the only stage that touches raw vectors online), re-rank
    * them by exact integer distance, serve the exact top-k. This op
    * measures what each re-rank width buys: recall@k per (C, query,
    * k) over C ∈ `cs`, with ONE index build, ONE ADC pass at maxC and
    * ONE exact ranking shared across the sweep (a top-C candidate
    * list is the top-C' prefix's superset for C' < C, so each width
    * is a re-restriction, never a re-retrieval).
    *
    * Set-algebra contract (the spec's pins): because the re-rank is
    * EXACT over the retrieved set S(C), a true neighbor is recovered
    * iff retrieved — n_overlap(C, k) = |exact-top-k ∩ S(C)| — so
    * recall is monotone non-decreasing in C at every k, and with
    * every cell probed and C ≥ n it reads 10⁶ ppm exactly.
    *
    * Returns (rerank_c, queryIdCol, k, n_overlap, recall_ppm) ordered
    * by (rerank_c, queryIdCol, k), the full grid filled. */
  def ivfAdcResidualRerankRecall(emb: DataFrame, queries: DataFrame,
      ks: Seq[Int] = Seq(1, 5, 10), cs: Seq[Int] = Seq(10, 20, 40),
      nCents: Int = 16, nProbe: Int = 4, m: Int = 8, nCodes: Int = 16,
      rounds: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1))
    require(cs.nonEmpty && cs.forall(_ >= 1))
    require(nCents >= 1 && nProbe >= 1 && nProbe <= nCents)
    val spark = emb.sparkSession
    val maxK = ks.max
    val maxC = cs.max
    val dim = probeDim(emb, idCol, vecCol)
    require(dim % m == 0, s"dim $dim is not divisible by m=$m")
    require(probeDim(queries, queryIdCol, queryVecCol) == dim,
      s"query dim does not match corpus dim $dim")
    val subLen = dim / m
    val (cents, books, codes) = residualIndexFrames(emb, nCents, m,
      nCodes, rounds, idCol, vecCol, quantScale, dim)
    val qq = queries.select(col(queryIdCol).as("__qid"),
      quantArr(col(queryVecCol), quantScale).as("__qqv"))
    val qres = residualProbe(qq, cents, nProbe)
    // ONE ADC retrieval at the widest window; every narrower C is its
    // rank-prefix (the q227 re-restriction argument, applied to the
    // candidate dial instead of the probe dial)
    val adcTop = residualAdcSums(codes, books, qres, subLen)
      .withColumn("__ar", row_number().over(
        Window.partitionBy("__qid").orderBy(col("__adc"), col("__id")))
        .cast(LongType))
      .filter(col("__ar") <= maxC)
      .select(col("__qid"), col("__id"), col("__ar"))
    // the bounded raw-vector point fetch + exact integer re-rank
    val q = emb.select(col(idCol).as("__id"),
      quantArr(col(vecCol), quantScale).as("__qv"))
    val csDf = spark.range(0, cs.length).select(
      element_at(typedLit(cs.map(_.toLong)), col("id").cast("int") + 1)
        .as("rerank_c"))
    val rr = adcTop.join(q, Seq("__id"))
      .join(broadcast(qq), Seq("__qid"))
      .select(col("__qid"), col("__id"), col("__ar"),
        intSqDist(col("__qv"), col("__qqv")).as("__dx"))
      .crossJoin(broadcast(csDf))
      .filter(col("__ar") <= col("rerank_c"))
      .withColumn("__rr", row_number().over(
        Window.partitionBy("rerank_c", "__qid")
          .orderBy(col("__dx"), col("__id"))).cast(LongType))
      .filter(col("__rr") <= maxK)
      .select(col("rerank_c"), col("__qid"), col("__id"), col("__rr"))
    val exact = exactBatchRanks(q, qq, maxK)
    val ksDf = spark.range(0, ks.length).select(
      element_at(typedLit(ks.map(_.toLong)), col("id").cast("int") + 1)
        .as("k"))
    val hits = exact.join(rr, Seq("__qid", "__id"))
      .crossJoin(broadcast(ksDf))
      .filter(col("__er") <= col("k") && col("__rr") <= col("k"))
      .groupBy("rerank_c", "__qid", "k").agg(count(lit(1)).as("__c"))
    qq.select(col("__qid")).crossJoin(broadcast(csDf))
      .crossJoin(broadcast(ksDf))
      .join(hits, Seq("rerank_c", "__qid", "k"), "left")
      .select(col("rerank_c"), col("__qid").as(queryIdCol), col("k"),
        coalesce(col("__c"), lit(0L)).as("n_overlap"))
      .withColumn("recall_ppm", expr("(n_overlap * 1000000) div k"))
      .orderBy("rerank_c", queryIdCol, "k")
  }

  /** LLOYD ROUNDS → recall frontier for the residual production tier:
    * q218 measured rounds 0→1 worth +200 000 ppm recall@10 on the raw
    * tier; q227 measured the residual tier quantization-bound — so
    * the binding dial is codebook REFINEMENT, and nobody had measured
    * where it saturates. Sweeps rounds ∈ `roundsList` at fixed
    * geometry with ONE Lloyd run captured at its prefixes
    * ([[fitPqBooksLloydIntSnapshots]] — round r+1 is a pure function
    * of round r's book, so the r-round book read from a longer run IS
    * the r-round fit), ONE shared routing/residual pass, and ONE
    * exact ranking; only the encode + LUT + ADC tail runs per round
    * count (it must — the codes themselves change with the book).
    *
    * The corpus residual frame backs 1 + 2·|roundsList| consumers
    * (the Lloyd fit plus an encode and a Lloyd-round replay per
    * snapshot), so it is pinned with an eager localCheckpoint — the
    * q119 criterion — released by the harness sweep.
    *
    * Returns (lloyd_rounds, queryIdCol, k, n_overlap, recall_ppm)
    * ordered by (lloyd_rounds, queryIdCol, k), full grid filled. */
  def ivfAdcResidualLloydRoundsSweep(emb: DataFrame, queries: DataFrame,
      ks: Seq[Int] = Seq(1, 5, 10), nCents: Int = 16, nProbe: Int = 4,
      m: Int = 8, nCodes: Int = 16, roundsList: Seq[Int] = Seq(0, 1, 2, 4),
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", queryVecCol: String = "embedding",
      quantScale: Double = 1e4): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1))
    require(roundsList.nonEmpty && roundsList.forall(_ >= 0) &&
      roundsList.distinct.length == roundsList.length)
    require(nCents >= 1 && nProbe >= 1 && nProbe <= nCents)
    val spark = emb.sparkSession
    val maxK = ks.max
    val dim = probeDim(emb, idCol, vecCol)
    require(dim % m == 0, s"dim $dim is not divisible by m=$m")
    require(probeDim(queries, queryIdCol, queryVecCol) == dim,
      s"query dim does not match corpus dim $dim")
    val subLen = dim / m
    val (q, cents, resid0) = residualFrames(emb, nCents, idCol, vecCol,
      quantScale)
    val resid = resid0.localCheckpoint(true)
    val bookMap = fitPqBooksLloydIntSnapshots(
      resid.select(col("__id"), col("__rv").as("__qv")),
      m, nCodes, roundsList, dim)
    val qq = queries.select(col(queryIdCol).as("__qid"),
      quantArr(col(queryVecCol), quantScale).as("__qqv"))
    val qres = residualProbe(qq, cents, nProbe)
    val approx = roundsList.map { r =>
      val books = bookMap(r)
        .select(col("subspace").as("__ss"), col("code").as("__code"),
          col("codeword").as("__cv"))
      val codes = argminCode(
        intSubSlices(resid.select(col("__id"), col("__cell"),
          col("__rv").as("__qv")), m, subLen),
        books, Seq("__id", "__cell"))
      residualAdcSums(codes, books, qres, subLen)
        .withColumn("__ar", row_number().over(
          Window.partitionBy("__qid").orderBy(col("__adc"), col("__id")))
          .cast(LongType))
        .filter(col("__ar") <= maxK)
        .select(lit(r.toLong).as("lloyd_rounds"), col("__qid"),
          col("__id"), col("__ar"))
    }.reduce(_ unionByName _)
    val exact = exactBatchRanks(q, qq, maxK)
    val ksDf = spark.range(0, ks.length).select(
      element_at(typedLit(ks.map(_.toLong)), col("id").cast("int") + 1)
        .as("k"))
    val rdsDf = spark.range(0, roundsList.length).select(
      element_at(typedLit(roundsList.map(_.toLong)),
        col("id").cast("int") + 1).as("lloyd_rounds"))
    val hits = exact.join(approx, Seq("__qid", "__id"))
      .crossJoin(broadcast(ksDf))
      .filter(col("__er") <= col("k") && col("__ar") <= col("k"))
      .groupBy("lloyd_rounds", "__qid", "k").agg(count(lit(1)).as("__c"))
    qq.select(col("__qid")).crossJoin(broadcast(rdsDf))
      .crossJoin(broadcast(ksDf))
      .join(hits, Seq("lloyd_rounds", "__qid", "k"), "left")
      .select(col("lloyd_rounds"), col("__qid").as(queryIdCol), col("k"),
        coalesce(col("__c"), lit(0L)).as("n_overlap"))
      .withColumn("recall_ppm", expr("(n_overlap * 1000000) div k"))
      .orderBy("lloyd_rounds", queryIdCol, "k")
  }
}
