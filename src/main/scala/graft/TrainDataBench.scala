package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.engine.{Session, Tables}
import graft.ops.{Chunking, Classifier, Dedup, Packing, Splits, TextStats}
import graft.util.Timing

/** End-to-end training-data pipeline over the documents corpus — the
  * LLM-data-prep shape this engine adds beyond the reference:
  *
  *   load → per-domain admission cap (hash-order, ≤k per source) →
  *   dedup funnel (exact → MinHash → connected components) →
  *   quality + classifier annotation → combined gate → sliding-window
  *   chunking → stable train/val/test split → concat-and-cut packing
  *   of the train chunks into fixed-token training sequences →
  *   parquet partitioned by split.
  *
  * Prints one JSON line of per-stage wall-clock + row counts. Every
  * stage is deterministic and partitioning-independent, so the same
  * corpus always yields byte-identical splits.
  */
object TrainDataBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("/tmp/graft_traindata")
    val spark = Session()

    val docs = Tables.documents(spark, sfDir)
    val nRaw = docs.count()

    // per-domain cap BEFORE content dedup — the real-pipeline order
    // (one crawl-heavy domain must not dominate what dedup then sees);
    // hash-order admission keeps the cut deterministic across reruns
    val (capped, capS) = Timing.timed {
      val c = Splits.capPerGroup(docs, "source", "doc_id", k = 200)
        .select(docs.columns.map(col): _*).cache()
      c.count()
      c
    }
    val nCapped = capped.count()

    // QUALITY-AWARE survivors (q119): each near-dup cluster keeps its
    // best-classifier-score member instead of the min id — the score
    // is computed once here and REUSED by the gate below (real
    // pipelines run the quality model before dedup for exactly this
    // double duty)
    val (kept, dedupS) = Timing.timed {
      val k = Dedup.deduplicateKeepBest(capped,
          Classifier.hashedLinearScore(col("text")),
          maxJaccardDist = 0.4)
        .withColumnRenamed("score", "clf_score").cache()
      k.count()
      k
    }
    val nKept = kept.count()

    val (gated, qualS) = Timing.timed {
      val g = kept.select(
          col("doc_id"), col("text"), col("lang"), col("clf_score"),
          TextStats.qualityScore(col("text")).as("quality"),
          TextStats.predictedLang(col("text")).as("lang_pred"),
          TextStats.bagFingerprint(col("text")).as("fingerprint"))
        // heuristic gate ~p10 of this corpus; the classifier gate is
        // the q105 model stand-in — both one map-only pass
        .filter(col("quality") >= 0.5 && col("clf_score") >= -3000L)
        .cache()
      g.count()
      g
    }
    val nGated = gated.count()

    val (chunks, chunkS) = Timing.timed {
      val c = Chunking.chunkByTokens(gated, chunkSize = 50, overlap = 10,
          carryCols = Seq("lang", "quality"))
        .withColumn("split", Splits.assignSplit(col("doc_id")))
        .cache()
      c.count()
      c
    }
    val nChunks = chunks.count()

    // pack the train split's chunks into fixed-256-token training
    // sequences (what a loader actually consumes); the chunk id keeps
    // doc order primary so sequences read contiguous corpus text.
    // chunk_idx < 4096 always holds here: chunkByTokens emits one
    // chunk per `step` tokens, and the corpus has no 160k-token docs.
    val (packMap, packS) = Timing.timed {
      val train = chunks.filter(col("split") === "train")
        .withColumn("chunk_id", col("doc_id") * 4096 + col("chunk_idx"))
      val p = Packing.packSequences(train, budget = 256L,
          idCol = "chunk_id", textCol = "chunk_text")
        .cache()
      p.count()
      p
    }
    val nPackRows = packMap.count()
    val nSeqs = packMap.agg(countDistinct(col("seq_id"))).head().getLong(0)

    val (_, writeS) = Timing.timed {
      chunks.write.mode(SaveMode.Overwrite).partitionBy("split").parquet(out)
      packMap.write.mode(SaveMode.Overwrite).parquet(s"$out-packmap")
    }

    // size-targeted training shards + verifiable manifest over the
    // train chunks — what a loader fleet actually mounts: one
    // directory per ~20k-token shard, each shard's doc count / token
    // sum / content hash recorded for end-to-end integrity checks
    val (manifest, shardS) = Timing.timed {
      val train = chunks.filter(col("split") === "train")
        .withColumn("chunk_id", col("doc_id") * 4096 + col("chunk_idx"))
      val m = graft.ops.Sharding.writeShards(train, s"$out-shards",
        budget = 20000L, idCol = "chunk_id", textCol = "chunk_text").cache()
      m.count()
      m
    }
    val nShards = manifest.count()
    val shardTokens = manifest.agg(sum(col("n_tokens"))).head().getLong(0)

    // mixture EPOCH plan (q124) over the gated corpus: per-source
    // repeat factors for a 2×-corpus token budget — the upsampling
    // table a trainer's data loader consumes; S rows, one aggregate
    val (epochs, epochS) = Timing.timed {
      val totalTok = gated.agg(
        sum(TextStats.tokenCount(col("text")))).head().getLong(0)
      val gatedWithSource = gated.join(
        docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      Splits.epochPlan(gatedWithSource, budgetTokens = totalTok * 2)
        .orderBy("source").collect()
    }
    // maxOption: a fully-gated corpus yields zero sources and a bare
    // .max on the empty array would crash the whole pipeline bench at
    // the final reporting step
    val maxEpochs = epochs.map(_.getLong(4)).maxOption.getOrElse(0L)
    val minEpochs = epochs.map(_.getLong(4)).minOption.getOrElse(0L)

    val splitCounts = spark.read.parquet(out).groupBy("split").count()
      .collect().map(r => s""""${r.getString(0)}":${r.getLong(1)}""").sorted
      .mkString("{", ",", "}")
    val total = capS + dedupS + qualS + chunkS + packS + writeS + shardS + epochS
    println(
      s"""{"metric":"traindata_pipeline","raw_docs":$nRaw,"after_cap":$nCapped,""" +
        s""""after_dedup":$nKept,""" +
        s""""after_quality":$nGated,"chunks":$nChunks,"splits":$splitCounts,""" +
        s""""train_pack_rows":$nPackRows,"train_seqs":$nSeqs,""" +
        s""""train_shards":$nShards,"shard_tokens":$shardTokens,""" +
        s""""epoch_sources":${epochs.length},"epochs_x1000_min":$minEpochs,"epochs_x1000_max":$maxEpochs,""" +
        s""""cap_s":${f"$capS%.1f"},"dedup_s":${f"$dedupS%.1f"},"quality_s":${f"$qualS%.1f"},""" +
        s""""chunk_s":${f"$chunkS%.1f"},"pack_s":${f"$packS%.1f"},""" +
        s""""write_s":${f"$writeS%.1f"},"shard_s":${f"$shardS%.1f"},"epoch_s":${f"$epochS%.1f"},"total_s":${f"$total%.1f"}}""")
    spark.stop()
  }
}
