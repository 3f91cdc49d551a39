package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.llm.Dedup
import graft.sources.Tables

/** Streaming incremental near-dup — the composition of the round-4 wins
  * (SURVEY.md §2b `stream_dedup_incremental`): `llm_dedup_incremental`'s
  * per-batch increment driven as an arrival-graded pipeline, the way
  * `stream_contamination` grades the contamination increment.
  *
  * The production shape: the corpus signature + prefix layouts are
  * IMMUTABLE persisted tables (read exchange-free every micro-batch);
  * the only cross-batch state is the appended signature table of docs
  * that arrived since the layouts were built — O(arrivals), disjoint
  * from the base, itself just parquet appended per micro-batch. Each
  * micro-batch shingles ONLY its own docs and runs Dedup.dedupIncrement
  * against (base, delta); its pairs append to the sink and its
  * signatures append to the delta. StreamingSpec drives exactly that
  * form (file source + checkpoint + foreachBatch over two arrival waves,
  * no reprocessing on resume).
  *
  * The graded form here batch-emulates three arrival waves. Waves are
  * CONTIGUOUS doc_id ranges (tertiles of the post-watermark id range):
  * real append-only ingestion assigns monotonically growing ids, so
  * arrival order IS id order — the same watermark contract
  * ingest_incremental grades. That contract is what makes the union of
  * per-wave increments exactly the batch answer: every qualifying pair
  * (a, b) with b arriving in wave k is emitted once, at wave k, as a
  * base-cross (a in corpus), delta-cross (a in an earlier wave), or
  * within-wave pair — so batching must not change one row, and the
  * oracle is llm_dedup_incremental's verbatim.
  */
object DedupStream {

  /** Number of emulated arrival waves in the graded form. */
  private val Waves = 3

  val streamDedupIncremental: GraftQuery = GraftQuery(
    "stream_dedup_incremental",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      // Watermark (corpus/batch split) + post-watermark id span, as one
      // broadcast 1-row frame — the split stays declarative (no driver
      // collect) and every wave filter joins against it.
      // 1-row checkpoint (r16): every wave's plan (and the base/prefix
      // filters) embeds this aggregate via broadcast — uncheckpointed,
      // each of those separately-executed DAGs re-ran the doc_id scan.
      val bounds = docs.agg(
        floor(max($"doc_id") / 2.0).cast("long").as("wm"),
        max($"doc_id").as("mx"))
        .localCheckpoint()
      def waveEdge(k: Int): Column =
        $"wm" + floor(($"mx" - $"wm") * lit(k) / lit(Waves.toDouble)).cast("long")
      // Shingle the post-watermark batch ONCE (checkpointed, r17; was
      // .cache()): each wave and each wave's delta are id-range slices of
      // it — the graded stand-in for the appended delta parquet of the
      // true streaming form. With cache, every wave's separately-executed
      // DAG still carried (and re-analyzed) the whole shingle pipeline
      // subtree and paid the cache-lookup path per slice; the checkpoint
      // makes each wave plan a flat in-memory scan, which is also the
      // truer emulation (the real form READS an appended parquet delta,
      // it does not re-derive shingles per wave).
      val batchSh = Dedup.shingleOf(s,
          docs.join(broadcast(bounds), $"doc_id" > $"wm").select($"doc_id", $"text"))
        .localCheckpoint()
      def shSlice(cond: Column): DataFrame =
        batchSh.join(broadcast(bounds), cond)
          .select($"doc_id", $"shingles", $"n")
      // Immutable persisted base: doc_id-bucketed signatures (SMJ verify)
      // and hv-bucketed prefixes (exchange-free candidate join), both
      // watermark-filtered by a partitioning-preserving broadcast join.
      val baseSh = Dedup.bucketedSignatures(s, dir)
        .join(broadcast(bounds), $"doc_id" <= $"wm")
        .select($"doc_id", $"shingles", $"n")
      val basePrefixes = Dedup.bucketedPrefixes(s, dir)
        .join(broadcast(bounds), $"doc_id" <= $"wm")
        .select($"doc_id", $"n", $"pos", $"hv")
      (0 until Waves).map { k =>
        val waveSh = shSlice($"doc_id" > waveEdge(k) && $"doc_id" <= waveEdge(k + 1))
        val delta = if (k == 0) None
                    else Some(shSlice($"doc_id" <= waveEdge(k)))
        Dedup.dedupIncrement(s, baseSh, basePrefixes, delta, waveSh)
          // Materialize each wave's (small) pair set eagerly — exactly how
          // the true streaming form executes (one DAG per micro-batch,
          // appended to the sink), instead of one 3-wave mega-plan that
          // re-derives the shared base/delta subtrees and pays their
          // whole-stage codegen three times over in a single first
          // execution (the round-5 widest-DAG finding: 109 planned
          // shuffles). The union below scans three materialized pair sets.
          .localCheckpoint()
      }.reduce(_.unionAll(_)).orderBy($"id_a", $"id_b")
    },
    // Batching must not change one row: the oracle is the batch
    // incremental answer (all pairs whose NEWER doc is post-watermark).
    Dedup.incremental.oracle
  )

  def all: Seq[GraftQuery] = Seq(streamDedupIncremental)
}
