package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.sources.Tables
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor / similarity search over the embedding
  * column (SURVEY.md §2b llm_sim_topk; north-star "similarity search").
  *
  * Two paths:
  *  - brute force (exact): broadcast the query set, stream the candidate
  *    table once, cosine in the custom codegen expression, per-query top-k
  *    via window rank. At 100 TB the candidate side stays partitioned and
  *    is read exactly once — cost is one scan per query batch, no shuffle
  *    of the big side (the window partitions by query id over a result
  *    already reduced to per-partition top-k by the rank filter).
  *  - LSH-bucketed (approximate): random-hyperplane signatures bucket both
  *    sides; each query probes its own bucket plus all Hamming-1 neighbors,
  *    turning the scan into an equi-join on bucket id — the 1000-executor
  *    path when query batches are large.
  */
object Similarity {

  private[graft] val K = 10
  private[graft] val NumQueries = 5

  /** Hard cap on IVF codebook size: the codebook must stay a bounded model
    * artifact that fits one executor's broadcast budget regardless of corpus
    * size (4096 × 64 float dims ≈ 1 MB). Beyond ~cap² rows (≈16M at dim 64),
    * √N exceeds the cap and the flat codebook stops being ideal IVF — the
    * documented next step is a two-level coarse quantizer, same dataflow. */
  private[graft] val MaxCodebook = 4096

  /** Exact-direction twin offset shared with the semantic-dedup planted
    * construction (Dedup.SemTwinOffset) — one convention for every
    * planted-structure oracle in the ANN family. Defined (with the twin
    * batch and its closed-form oracle) ahead of every searcher val that
    * references it: object vals initialize in declaration order. */
  private[graft] def TwinOffset: Long = Dedup.SemTwinOffset

  /** The planted twin query batch: every 20th corpus vector scaled by
    * 2.0f under a disjoint id range. See ivfPersistedTopK scaladoc. */
  private[graft] def twinQueries(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir).filter($"vec_id" % 20 === 7)
      .select(($"vec_id" + TwinOffset).as("qid"),
        transform($"embedding", x => x * lit(2.0f)).as("qv"))
  }

  /** Closed-form oracle for twin-batch rank-1 serving: each twin query
    * retrieves its source at rank 1 with cosine exactly 1.0 — shared by
    * every searcher graded on the twin batch (lsh / ivf / ivf2 / pq /
    * ivfpq / persisted). */
  private[graft] def twinServeOracle: String =
    s"""SELECT vec_id + $TwinOffset AS qid, 1 AS rn, vec_id AS nid,
               CAST(1.0 AS DOUBLE) AS sim
        FROM embeddings WHERE vec_id % 20 = 7 ORDER BY qid"""

  /** Seed centroids: deterministic hash-threshold sample sized to
    * ~min(⌈√N⌉, MaxCodebook) rows — SUB-LINEAR in corpus size, unlike a
    * constant-fraction modulus sample (N/k grows linearly: at 100 TB that
    * broadcast is TBs and fails outright). The corpus count is aggregated to
    * a 1-row frame and broadcast-joined, never collected to the driver; the
    * keep-decision `pmod(xxhash64(vec_id), 2^20) < 2^20·target/N` is a pure
    * per-row projection, so seeding costs one count-agg plus one scan.
    * The min-vec_id row is always kept: the binomial sample has no floor,
    * and on a tiny corpus an unlucky hash layout could otherwise keep zero
    * rows — an empty codebook makes ivfTopK silently return nothing. The
    * floor rides the same 1-row aggregate, so the plan shape is unchanged. */
  private[graft] def seedCentroids(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    val denom = 1L << 20
    val nRow = e.agg(count(lit(1)).cast("double").as("n"),
                     min($"vec_id").as("mn"))
    e.crossJoin(broadcast(nRow))
      .filter($"vec_id" === $"mn" ||
        pmod(xxhash64($"vec_id"), lit(denom)) <
          lit(denom.toDouble) * least(lit(MaxCodebook.toDouble), ceil(sqrt($"n"))) / $"n")
      .select($"vec_id".as("cid"), $"embedding".as("cv"))
  }

  /** Exact brute-force cosine top-k for queries vec_id < NumQueries. */
  val bruteTopK: GraftQuery = GraftQuery(
    "llm_sim_topk",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val q = broadcast(
        e.filter($"vec_id" < NumQueries)
          .select($"vec_id".as("qid"), $"embedding".as("qv")))
      val scored = e.join(q, $"vec_id" =!= $"qid")
        .withColumn("sim", round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")
      scored
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= K)
        .select($"qid", $"rn", $"vec_id".as("nid"), $"sim")
        .orderBy($"qid", $"rn")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
             scored AS (
               SELECT q.qid, e.vec_id AS nid,
                      (round(list_cosine_similarity(q.qv, e.v), 4) + 0.0) AS sim
               FROM q JOIN e ON e.vec_id <> q.qid),
             ranked AS (
               SELECT qid, nid, sim,
                      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
               FROM scored)
             SELECT qid, rn, nid, sim FROM ranked WHERE rn <= $K
             ORDER BY qid, rn""")
  )

  /** Radius-search similarity floor: pairs at or above this rounded cosine
    * are "in range". 0.3 sits in the upper tail of the query set's cosine
    * distribution on the fixture (max ~0.39, p99 ~0.29 at both graded SFs
    * — the planted near-dup pairs don't involve the vec_id < NumQueries
    * queries), so the result is non-empty but selective at every SF. */
  private[graft] val RangeTau = 0.3

  /** Cosine RANGE search: every corpus vector within similarity >= RangeTau
    * of each query — retrieval by absolute similarity rather than fixed k
    * (llm_sim_topk's complement: dedup candidate generation, neighborhood
    * expansion, and recall-oriented retrieval all want "everything this
    * close", where top-k silently truncates dense neighborhoods and pads
    * sparse ones). Exact form, and the family's oracle anchor.
    *
    * Scale shape: the bounded query set broadcasts (same as llm_sim_topk);
    * the corpus side is one codegen cosine scan projection + filter — no
    * window at all (range search needs no per-query ranking), so the
    * output is the only thing larger than the scan. Past the flat-scan
    * cap the LSH/IVF bucketed forms serve the same predicate by probing
    * buckets whose centroid similarity can still clear RangeTau. Threshold
    * compares the ROUNDED value (round(_,4) >= tau) so both engines make
    * the identical keep decision at the boundary. */
  val rangeSearch: GraftQuery = GraftQuery(
    "llm_sim_range",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val q = broadcast(
        e.filter($"vec_id" < NumQueries)
          .select($"vec_id".as("qid"), $"embedding".as("qv")))
      e.join(q, $"vec_id" =!= $"qid")
        .withColumn("sim", round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4))
        .filter($"sim" >= RangeTau)
        .select($"qid", $"vec_id".as("nid"), $"sim")
        .orderBy($"qid", $"nid")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries)
             SELECT q.qid, e.vec_id AS nid,
                    (round(list_cosine_similarity(q.qv, e.v), 4) + 0.0) AS sim
             FROM q JOIN e ON e.vec_id <> q.qid
             WHERE round(list_cosine_similarity(q.qv, e.v), 4) >= $RangeTau
             ORDER BY qid, nid""")
  )

  /** Deterministic random hyperplanes (seeded) as float literals. */
  private[llm] def planes(nPlanes: Int, dim: Int = 64, seed: Long = 7L): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)((rnd.nextGaussian()).toFloat))
  }

  /** Bucket id = sign bits against `nPlanes` hyperplanes. */
  private[llm] def bucketCol(s: SparkSession, vec: org.apache.spark.sql.Column,
                             nPlanes: Int): org.apache.spark.sql.Column =
    planes(nPlanes).zipWithIndex.map { case (p, i) =>
      when(VectorFunctions.dot(s, vec, typedlit(p.toSeq)) > 0.0,
           lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** All bucket ids within Hamming distance 1 of the vector's own bucket
    * (multi-probe LSH): the query-side explode. */
  private[llm] def probeBuckets(s: SparkSession, vec: org.apache.spark.sql.Column,
                                nPlanes: Int): org.apache.spark.sql.Column = {
    val own = bucketCol(s, vec, nPlanes)
    array((own +: (0 until nPlanes).map(i => own.bitwiseXOR(lit(1 << i)))): _*)
  }

  /** The LSH search pipeline for an arbitrary (qid, qv) query frame:
    * equi-join on bucket id instead of a full scan, multi-probe on the
    * Hamming-1 neighborhood, exact cosine within buckets, per-query
    * top-K after a distinct (a candidate reached via two probes must
    * score once). */
  private[graft] def lshSearch(s: SparkSession, dir: String,
                               queries: DataFrame): DataFrame = {
    import s.implicits._
    val nPlanes = 6
    val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    val cands = e.select($"vec_id", $"embedding",
      bucketCol(s, $"embedding", nPlanes).as("bucket"))
    val q = broadcast(
      queries.select($"qid", $"qv",
        explode(probeBuckets(s, $"qv", nPlanes)).as("bucket")))
    cands.join(q, Seq("bucket"))
      .filter($"vec_id" =!= $"qid")
      .withColumn("sim", round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4))
      .select($"qid", $"vec_id".as("nid"), $"sim").distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")))
      .filter($"rn" <= K)
      .select($"qid", $"rn", $"nid", $"sim")
  }

  /** The full real-query LSH top-K (the pre-oracle shape) — spec coverage
    * for recall vs bruteTopK and structure in SimilaritySpec. */
  private[graft] def lshFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    lshSearch(s, dir,
      e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("qid"), $"embedding".as("qv")))
      .orderBy($"qid", $"rn")
  }

  /** Approximate LSH top-k — equi-join on bucket id instead of a full scan.
    *
    * Oracle (round-10 verdict item 2, the planted-twin construction
    * proven on ivfPersistedTopK): the graded query batch is the
    * exact-direction twins (qid = vec_id + TwinOffset, qv = 2·v for every
    * 20th vector). The sign test `dot(vec, plane) > 0` is invariant under
    * the ×2.0f scale (2·x has x's sign bit, and 2·0 = 0), so
    * bucket(2v) = bucket(v) EXACTLY — the twin's own-bucket probe always
    * contains its source, which scores cosine exactly 1.0 (background cap
    * ≈0.55). Rank 1 is therefore the closed form (qid, source, 1.0) under
    * ANY plane set; ranks 2..K stay plane-dependent and spec-covered via
    * lshFull (recall vs brute force in SimilaritySpec). */
  val lshTopK: GraftQuery = GraftQuery(
    "llm_sim_topk_lsh",
    (s, dir) => {
      import s.implicits._
      lshSearch(s, dir, twinQueries(s, dir))
        .filter($"rn" === 1)
        .orderBy($"qid")
    },
    Some(twinServeOracle)
  )

  /** Per-row scored centroid list over a broadcast codebook column `cb`:
    * array<struct<csim,cid>> — struct comparison is lexicographic, so
    * array_max/array_sort give a deterministic argmax with cid tie-break. */
  private[llm] def centScores(s: SparkSession, vec: org.apache.spark.sql.Column) =
    transform(col("cb"), c =>
      struct(VectorFunctions.cosine(s, c.getField("cv"), vec).as("csim"),
             c.getField("cid").as("cid")))

  /** Codebook as a bounded model artifact: aggregated EXECUTOR-SIDE into a
    * single array row and attached to every scan partition by a broadcast
    * join — the driver never materializes it (the round-1 form collected it
    * to the driver and folded it into the plan as a literal: O(codebook)
    * driver memory and plan size). Classic IVF premise: the codebook fits
    * in executor memory; beyond that, front it with a coarse quantizer
    * (same dataflow, two levels — see ivf2TopK). */
  private[llm] def cbOf(s: SparkSession, cents: DataFrame): DataFrame = {
    import s.implicits._
    broadcast(cents.agg(collect_list(struct($"cid", $"cv")).as("cb")))
  }

  /** `rounds` of distributed k-means refinement over (vec_id, embedding)
    * rows — pure dataflow per round (assign = argmax against the broadcast
    * codebook; update = per-(cid, dim) mean via posexplode + re-assembly),
    * fixed iteration count so no driver actions are needed. Only the FINAL
    * codebook frame is cached: each intermediate round is referenced exactly
    * once (by the next round's assignment), so caching it pinned memory
    * without ever saving a recompute — and the registrations accumulated
    * across repeated invocations (round-4 advice). The final frame is the
    * one consumed twice (assignment + probe sides), and it is bounded at
    * ≤ MaxCodebook rows, so the single retained registration is ~1 MB.
    * Empty clusters drop, as in standard Lloyd. */
  private def lloydRefine(s: SparkSession, rows: DataFrame,
                          seed: DataFrame, rounds: Int): DataFrame = {
    import s.implicits._
    var cents = seed
    for (_ <- 1 to rounds) {
      val assigned = rows.crossJoin(cbOf(s, cents))
        .select($"embedding",
          array_max(centScores(s, $"embedding")).getField("cid").as("cid"))
      cents = assigned
        .select($"cid", posexplode($"embedding").as(Seq("dim", "x")))
        .groupBy($"cid", $"dim").agg(avg($"x").as("m"))
        .groupBy($"cid")
        .agg(transform(array_sort(collect_list(struct($"dim", $"m"))),
          c => c.getField("m").cast("float")).as("cv"))
    }
    cents.cache()
  }

  /** IVF (inverted-file) ANN: a deterministic centroid sample, refined by
    * two distributed Lloyd (k-means) rounds, partitions the vector space;
    * every candidate is assigned to its nearest centroid (the inverted
    * list), and each query probes only its `NProbe` nearest lists —
    * turning the all-pairs scan into an equi-join on centroid id.
    *
    * Scale shape: assignment is a broadcast nested-loop against ~√N
    * centroids followed by a map-side-complete max_by aggregate — the
    * shuffle carries exactly N rows (one per vector), and at 100 TB the
    * assigned table is the thing you'd persist bucketed by `cid` so that
    * every later query batch is a bucket-pruned join, not a re-scan.
    *
    * Oracle (round-10 verdict item 2): graded on the planted twin batch.
    * The probe descent is a cosine argmax, invariant under the ×2.0f
    * scale, so the twin's FIRST probe is always its source's assigned
    * list — the source is a candidate under ANY codebook and scores
    * exactly 1.0. The graded projection is the rank-1 slice (closed form:
    * qid, source, 1.0); full-top-K structure and recall stay spec-covered
    * via ivfFull in SimilaritySpec.
    */
  val ivfTopK: GraftQuery = GraftQuery(
    "llm_sim_topk_ivf",
    (s, dir) => {
      import s.implicits._
      ivfSearch(s, dir, twinQueries(s, dir))
        .filter($"rn" === 1)
        .orderBy($"qid")
    },
    Some(twinServeOracle)
  )

  /** The full real-query flat-IVF top-K (the pre-oracle shape) — spec
    * coverage for recall/containment vs bruteTopK in SimilaritySpec. */
  private[graft] def ivfFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    ivfSearch(s, dir,
      e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("qid"), $"embedding".as("qv")))
      .orderBy($"qid", $"rn")
  }

  /** The flat-IVF search pipeline for an arbitrary (qid, qv) query frame. */
  private[graft] def ivfSearch(s: SparkSession, dir: String,
                               queries: DataFrame): DataFrame = {
      import s.implicits._
      // 4 probes of a √N-list codebook scan ≈ 4·√N candidates per query —
      // the per-query cost now SHRINKS as a fraction of the corpus as N
      // grows, where the old constant-fraction codebook kept it linear.
      val NProbe = 4
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      def centScores(vec: org.apache.spark.sql.Column) =
        Similarity.centScores(s, vec)
      // Codebook: the SHARED persisted Lloyd product (fineCentroids) —
      // ~√N hash-threshold seed + 2 k-means rounds, built once per
      // dataset and reused across the whole IVF family.
      val cents = fineCentroids(s, dir)
      val codebook = cbOf(s, cents)
      // Inverted-list assignment: nearest centroid, computed in the scan
      // projection (the 1-row codebook join adds no shuffle to the big
      // side). At 100 TB this is the table you persist bucketed by cid.
      val assigned = e.crossJoin(codebook)
        .withColumn("cid", array_max(centScores($"embedding")).getField("cid"))
        .drop("cb")
      // Query side: probe the NProbe nearest lists.
      val probes = broadcast(
        queries.crossJoin(codebook)
          .select($"qid", $"qv",
            explode(slice(reverse(array_sort(centScores($"qv"))), 1, NProbe)
              .getField("cid")).as("cid")))
      val scored = assigned.join(probes, Seq("cid"))
        .filter($"vec_id" =!= $"qid")
        .withColumn("sim", round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")))
        .filter($"rn" <= K)
        .select($"qid", $"rn", $"vec_id".as("nid"), $"sim")
  }

  /** How many coarse cells assignment/probing descends into. W=1 is pure
    * hierarchical IVF; W=2 recovers most boundary-loss recall (a vector near
    * a coarse-cell border may belong to a fine list whose centroid sits in
    * the neighboring cell) at 2× the fine-compare cost — still ~2√K per row
    * instead of K. */
  private[graft] val CoarseProbe = 2

  /** Two-level (coarse-quantized) IVF — the documented >16M-row step beyond
    * the flat codebook. The flat √N codebook is ideal IVF until √N exceeds
    * the broadcast cap (≈16M rows at dim 64, MaxCodebook 4096); past that,
    * scoring all K fine centroids per row also dominates assignment cost.
    * The fix is hierarchical: cluster the FINE CODEBOOK ITSELF into ~√K
    * coarse cells, broadcast the two-level structure (coarse vector + its
    * member fine centroids per cell, one nested array row), and per row
    * score √K coarse cells, descend into the best `CoarseProbe`, and argmax
    * only those cells' fine members — ~(√K + W·√K) cosines instead of K
    * (128 vs 4096 at the cap, 32×). The broadcast payload is the SAME
    * codebook, reshaped — nothing new grows with N.
    *
    * Scale shape: identical to ivfTopK downstream (assignment shuffles N
    * rows once; queries equi-join on fine cid). Both levels are built from
    * bounded frames: coarse seeding/refinement runs over the K fine
    * centroids (≤ MaxCodebook rows), so the extra Lloyd level costs O(K·√K)
    * — trivia next to the corpus scan.
    *
    * Oracle (round-10 verdict item 2): graded on the planted twin batch.
    * BOTH descent levels are cosine argmaxes — invariant under the ×2.0f
    * scale — so the twin selects its source's coarse cells and its first
    * fine probe is the source's assigned fine list, under ANY two-level
    * codebook. The graded projection is the rank-1 slice (closed form:
    * qid, source, 1.0); recall/containment and the CoarseProbe sweep stay
    * spec-covered via ivf2Pipeline in SimilaritySpec. */
  val ivf2TopK: GraftQuery = GraftQuery(
    "llm_sim_topk_ivf2",
    (s, dir) => {
      import s.implicits._
      ivf2Search(s, dir, CoarseProbe, twinQueries(s, dir))
        .filter($"rn" === 1)
        .orderBy($"qid")
    },
    Some(twinServeOracle)
  )

  /** The full real-query two-level dataflow, parameterized on the
    * coarse-probe width so SimilaritySpec can sweep W (recall vs
    * fine-compare count — the evidence behind the CoarseProbe=2 default,
    * recorded in SCALE.md). */
  private[graft] def ivf2Pipeline(s: SparkSession, dir: String,
                                  coarseProbe: Int): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    ivf2Search(s, dir, coarseProbe,
      e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("qid"), $"embedding".as("qv")))
      .orderBy($"qid", $"rn")
  }

  /** The two-level IVF search pipeline for an arbitrary (qid, qv) query
    * frame. */
  private[graft] def ivf2Search(s: SparkSession, dir: String,
                                coarseProbe: Int, queries: DataFrame): DataFrame = {
      import s.implicits._
      val NProbe = 4
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      // Level 2 (fine): the SAME persisted √N codebook ivfTopK uses
      // (fineCentroids).
      val fine = fineCentroids(s, dir)
      // Level 1 (coarse): persisted beside the fine codebook (it is a
      // pure derivative — ~√K centroids from one Lloyd round over the K
      // fine rows, seedCentroids reused verbatim on the (cid, cv) →
      // (vec_id, embedding) renaming). Building it is only O(K·√K), but
      // persistence makes every ivf2 descent — across calls AND sessions
      // — walk the exact same two-level structure, the same contract the
      // fine level already has.
      val coarse = coarseCentroids(s, dir)
        .select($"cid".as("ccid"), $"cv".as("ccv"))
      val fineAsRows = fine.select($"cid".as("vec_id"), $"cv".as("embedding"))
      // Group fine centroids under their nearest coarse cell and fold the
      // whole two-level structure into ONE nested-array broadcast row:
      // cb2: array<struct<ccid, ccv, cells: array<struct<cid, cv>>>>.
      // Both levels are array_sort-ed so the structure (and thus tie-breaks
      // downstream) is deterministic despite collect_list ordering.
      val fineAssigned = fineAsRows
        .crossJoin(broadcast(coarse.agg(
          collect_list(struct($"ccid".as("cid"), $"ccv".as("cv"))).as("cb"))))
        .select($"vec_id".as("cid"), $"embedding".as("cv"),
          array_max(centScores(s, $"embedding")).getField("cid").as("ccid"))
      val cb2 = broadcast(
        fineAssigned
          .groupBy($"ccid")
          .agg(array_sort(collect_list(struct($"cid", $"cv"))).as("cells"))
          .join(broadcast(coarse), Seq("ccid"))
          .agg(array_sort(
            collect_list(struct($"ccid", $"ccv", $"cells"))).as("cb2")))
      // Per-row two-level descent, entirely inside one scan projection:
      // score the √K coarse cells ONCE, keep the best CoarseProbe, flatten
      // their member lists, and score only those ~W·√K fine centroids. The
      // sort runs over light (csim, idx) pairs and the heavy `cells` arrays
      // are fetched by index after the cut — never re-scored (a filter
      // whose predicate recomputed the coarse top-W per element would cost
      // √K × √K = K cosines per row, i.e. the flat-codebook cost back) and
      // never compared. Ties break on idx; cb2 is array_sort-ed by ccid, so
      // idx order — and with it every downstream tie-break — is
      // deterministic.
      def fineScores(vec: org.apache.spark.sql.Column) = {
        val scoredCoarse = transform($"cb2", (g, i) =>
          struct(VectorFunctions.cosine(s, g.getField("ccv"), vec).as("csim"),
                 i.as("idx")))
        val topIdx = slice(reverse(array_sort(scoredCoarse)), 1, coarseProbe)
          .getField("idx")
        val cand = flatten(transform(topIdx, i =>
          element_at($"cb2", i + 1).getField("cells")))
        transform(cand, c =>
          struct(VectorFunctions.cosine(s, c.getField("cv"), vec).as("csim"),
                 c.getField("cid").as("cid")))
      }
      // Inverted-list assignment: nearest fine centroid reached through the
      // coarse descent. At 100 TB this is the table persisted bucketed by
      // cid, exactly as in ivfTopK.
      val assigned = e.crossJoin(cb2)
        .withColumn("cid", array_max(fineScores($"embedding")).getField("cid"))
        .drop("cb2")
      // Query side: descend the same two levels, probe the NProbe best
      // fine lists among the selected coarse cells' members.
      val probes = broadcast(
        queries.crossJoin(cb2)
          .select($"qid", $"qv",
            explode(slice(reverse(array_sort(fineScores($"qv"))), 1, NProbe)
              .getField("cid")).as("cid")))
      val scored = assigned.join(probes, Seq("cid"))
        .filter($"vec_id" =!= $"qid")
        .withColumn("sim", round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")))
        .filter($"rn" <= K)
        .select($"qid", $"rn", $"vec_id".as("nid"), $"sim")
  }

  /** Number of coarse partition groups the persisted IVF index shards
    * into: pmod(hash(cid), IndexGroups) is the partition column, so a
    * query batch's probe join dynamically prunes the scan to only the
    * groups holding probed lists. Size ∝ cluster at 100 TB (thousands);
    * 16 here keeps the fixture's directory count sane. */
  private[graft] val IndexGroups = 16

  /** The persisted fine codebook, SHARED by the whole IVF family:
    * llm_sim_topk_ivf, llm_sim_topk_ivf2 (as its fine level), and the
    * persisted index all read the same Lloyd product instead of each
    * running seedCentroids+lloydRefine from scratch (round 5 ran three
    * Lloyd builds per session; the codebook is the dominant cost of every
    * IVF query, and at 100 TB re-deriving a model artifact per query is
    * simply wrong). Persisting — not just session-caching — also makes
    * the determinism contract structural: Lloyd means sum in partition
    * order, so a REBUILT codebook is not bit-identical, but every probe
    * in every session now descends the exact artifact the assignments
    * were built with. Fingerprint-invalidated like every layout. */
  private[graft] def fineCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Layouts.parquet(s, Layouts.pathOf("ivf", dir, "centroids"),
        Layouts.fingerprint(Tables.embeddings(s, dir), "vec_id", "embedding")) {
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      lloydRefine(s, e, seedCentroids(s, e), 2)
    }
  }

  /** The persisted coarse quantizer over the fine codebook — ivf2's
    * level 1, derived from (and fingerprint-tied to) the same source as
    * fineCentroids. See ivf2Pipeline for rationale. */
  private[graft] def coarseCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Layouts.parquet(s, Layouts.pathOf("ivf", dir, "coarse"),
        Layouts.fingerprint(Tables.embeddings(s, dir), "vec_id", "embedding")) {
      val fineAsRows = fineCentroids(s, dir)
        .select($"cid".as("vec_id"), $"cv".as("embedding"))
      lloydRefine(s, fineAsRows, seedCentroids(s, fineAsRows), 1)
    }
  }

  /** The persisted IVF index — codebook + inverted-list assignments,
    * written once per dataset and re-read by every query batch (the
    * "persist the assigned table" step the flat-IVF scaladoc names).
    * Assignments are PARTITIONED by pmod(hash(cid), IndexGroups): unlike
    * bucketing, partition values are visible to dynamic partition pruning,
    * so the broadcast probe join prunes untouched groups at the directory
    * level before any file opens. Plain partitioned parquet (no catalog
    * table needed — partition discovery handles re-registration); the
    * pre-write repartition on the group column pins file count to the
    * group count. The codebook persists alongside because probes MUST
    * descend the SAME codebook the index was built with — Lloyd means sum
    * in partition order, so a rebuilt codebook is not bit-identical. */
  private[graft] def ivfIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    // Assignments share the codebook's fingerprint source, so a fixture
    // change invalidates BOTH together — probes can never descend a newer
    // codebook than the one the surviving assignments were built with.
    val assigned = Layouts.parquet(s, Layouts.pathOf("ivf", dir, "assign"),
        Layouts.fingerprint(Tables.embeddings(s, dir), "vec_id", "embedding"),
        "cid_grp") {
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val codebook = cbOf(s, fineCentroids(s, dir))
      e.crossJoin(codebook)
        .withColumn("cid", array_max(centScores(s, $"embedding")).getField("cid"))
        .drop("cb")
        .withColumn("cid_grp", pmod(hash($"cid"), lit(IndexGroups)))
        .repartition($"cid_grp")
    }
    (fineCentroids(s, dir), assigned)
  }

  /** ANN top-k over the PERSISTED IVF index — the recurring-query form:
    * Lloyd refinement and corpus assignment ran once at index-build time;
    * a query batch pays only its own probe descent (broadcast codebook ×
    * batch rows) plus a broadcast hash join whose scan DYNAMICALLY
    * PRUNES to the partition groups its probes touch (asserted on the
    * plan). At 100 TB with thousands of groups, a small query batch reads
    * a few list-groups, not the corpus — this is what makes ANN serving
    * economical on the same layout analytics runs on.
    *
    * Oracle (round-9 verdict item 4, the llm_dedup_semantic planted-twin
    * construction): the GRADED query batch is the exact-direction twins
    * of every 20th corpus vector (qid = vec_id + TwinOffset, qv = 2·v —
    * a power-of-two scale, so every cosine the descent computes is the
    * BIT-IDENTICAL float of the original's). Cosine probing is
    * scale-invariant, so under ANY codebook the twin's first probe is
    * its source's assigned list, the source is always a candidate, and
    * it scores exactly 1.0 (background pairs cap ≈0.55) — each twin's
    * RANK-1 answer is a deterministic closed form even though ranks 2..K
    * are codebook-dependent. The graded projection is therefore the
    * rank-1 slice; the full top-K serving form stays spec-covered via
    * ivfPersistedFull (structure, exact-sim containment, determinism,
    * DPP plan shape in SimilaritySpec). */
  /** Serve an arbitrary (qid, qv) query frame against the persisted IVF
    * index — the recurring/serving pipeline, factored so the one-shot
    * graded form and the streaming serving twin (stream_ivf_serve) run
    * the IDENTICAL plan: probes broadcast with their cid-group, the
    * partitioned index scan dynamically prunes to touched groups, exact
    * cosines within probed lists, per-query top-K. Unordered (callers
    * add the presentation sort). Serving is pure per-query against the
    * frozen index — no cross-query state — which is what makes the
    * batched and streamed forms row-identical. */
  private[graft] def serveIvf(s: SparkSession, dir: String,
                              queries: DataFrame): DataFrame = {
    import s.implicits._
    val NProbe = 4
    val (cents, assigned) = ivfIndex(s, dir)
    val codebook = cbOf(s, cents)
    val probes = broadcast(
      queries.crossJoin(codebook)
        .select($"qid", $"qv",
          explode(slice(reverse(array_sort(centScores(s, $"qv"))), 1, NProbe)
            .getField("cid")).as("cid"))
        .withColumn("cid_grp", pmod(hash($"cid"), lit(IndexGroups))))
    val scored = assigned.join(probes, Seq("cid_grp", "cid"))
      .filter($"vec_id" =!= $"qid")
      .withColumn("sim", round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")))
      .filter($"rn" <= K)
      .select($"qid", $"rn", $"vec_id".as("nid"), $"sim")
  }

  /** The full real-query top-K serving form (the pre-oracle shape) —
    * spec coverage for structure/containment/determinism and the
    * foreachBatch parity drives in StreamingSpec. */
  private[graft] def ivfPersistedFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    serveIvf(s, dir,
      e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("qid"), $"embedding".as("qv")))
      .orderBy($"qid", $"rn")
  }

  val ivfPersistedTopK: GraftQuery = GraftQuery(
    "llm_sim_topk_ivf_persisted",
    (s, dir) => {
      import s.implicits._
      serveIvf(s, dir, twinQueries(s, dir))
        .filter($"rn" === 1)
        .orderBy($"qid")
    },
    Some(twinServeOracle)
  )

  /** RANGE search over the persisted IVF index — llm_sim_range's scale
    * path (the flat exact scan caps out where llm_sim_topk's does):
    * probe the NProbe nearest lists via the broadcast codebook, DPP-prune
    * the partitioned index scan to touched groups, exact cosine within
    * probed lists, keep everything ≥ τ — no per-query window at all
    * (range needs no ranking), so the serving cost is probes × list size
    * and the output is the only thing larger than the pruned scan.
    * Precision is 1.0 by construction (exact cosine filter); recall is
    * probe-bounded — measured in SimilaritySpec against the exact range
    * anchor, twin-free. */
  private[graft] def serveIvfRange(s: SparkSession, dir: String,
                                   queries: DataFrame, tau: Double): DataFrame = {
    import s.implicits._
    val NProbe = 4
    val (cents, assigned) = ivfIndex(s, dir)
    val codebook = cbOf(s, cents)
    val probes = broadcast(
      queries.crossJoin(codebook)
        .select($"qid", $"qv",
          explode(slice(reverse(array_sort(centScores(s, $"qv"))), 1, NProbe)
            .getField("cid")).as("cid"))
        .withColumn("cid_grp", pmod(hash($"cid"), lit(IndexGroups))))
    assigned.join(probes, Seq("cid_grp", "cid"))
      .filter($"vec_id" =!= $"qid")
      .withColumn("sim", round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4))
      .filter($"sim" >= tau)
      .select($"qid", $"vec_id".as("nid"), $"sim")
  }

  /** The full real-query range-serving form — spec coverage (precision
    * containment vs the exact range anchor, recall, determinism). */
  private[graft] def rangeIvfFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    serveIvfRange(s, dir,
      e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("qid"), $"embedding".as("qv")), RangeTau)
      .orderBy($"qid", $"nid")
  }

  /** Graded form: the planted-twin batch (the ivfPersistedTopK device).
    * Each twin's source scores exactly 1.0 ≥ τ and lives in the twin's
    * first probe under ANY codebook (scale-invariant descent), so the
    * (qid, qid − offset, 1.0) slice is a closed form — a dropped list,
    * broken probe, or mis-pruned partition is a hash failure. */
  val rangeIvf: GraftQuery = GraftQuery(
    "llm_sim_range_ivf",
    (s, dir) => {
      import s.implicits._
      serveIvfRange(s, dir, twinQueries(s, dir), RangeTau)
        .filter($"nid" === $"qid" - TwinOffset)
        .orderBy($"qid")
    },
    Some(s"""SELECT vec_id + $TwinOffset AS qid, vec_id AS nid,
                    CAST(1.0 AS DOUBLE) AS sim
             FROM embeddings WHERE vec_id % 20 = 7 ORDER BY qid""")
  )

  /** Embedding QA — per-label centroid statistics (count, mean L2 norm,
    * mean cosine to the label centroid): the dispersion profile that flags
    * mislabeled or degenerate embedding batches before they enter
    * training. Same dataflow as a Lloyd update: per-(label, dim) mean via
    * posexplode + hash agg (shuffle carries labels × dims rows, never
    * vectors), centroids re-assembled and broadcast back (labels are a
    * bounded set), cosines in the scan projection via the codegen
    * expression. The centroid is cast through FLOAT before the cosine so
    * both engines feed the expression identical 32-bit values; rounding
    * happens only at the final projection (oracle-determinism rule). */
  val embedStats: GraftQuery = GraftQuery(
    "llm_embed_stats",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
        .select($"vec_id", $"label", $"embedding")
      val cents = e
        .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
        .groupBy($"label", $"dim").agg(avg($"x").as("m"))
        .groupBy($"label")
        .agg(transform(array_sort(collect_list(struct($"dim", $"m"))),
          c => c.getField("m").cast("float")).as("centroid"))
      val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        VectorFunctions.dot(s, a, b)
      e.join(broadcast(cents), Seq("label"))
        .select($"label",
          sqrt(dot($"embedding", $"embedding")).as("norm"),
          VectorFunctions.cosine(s, $"embedding", $"centroid").as("cos"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg($"norm"), 4).as("mean_norm"),
          round(avg($"cos"), 4).as("mean_cos_to_centroid"))
        .orderBy($"label")
    },
    Some("""WITH e AS (
              SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            -- dimension-agnostic: subscripts come from each row's own
            -- vector length, not a hardcoded fixture dim (r5 ADVICE)
            dims AS (
              SELECT label, dim, avg(x) AS m
              FROM (SELECT label, generate_subscripts(v, 1) AS dim,
                           unnest(v) AS x
                    FROM e)
              GROUP BY label, dim),
            cents AS (
              SELECT label,
                     list_transform(list(m ORDER BY dim),
                                    y -> CAST(CAST(y AS FLOAT) AS DOUBLE)) AS c
              FROM dims GROUP BY label),
            scored AS (
              SELECT e.label,
                     sqrt(list_sum(list_transform(e.v, y -> y * y))) AS norm,
                     list_cosine_similarity(e.v, cents.c) AS cos
              FROM e JOIN cents USING (label))
            SELECT label, count(*) AS n_vecs,
                   (round(avg(norm), 4) + 0.0) AS mean_norm,
                   (round(avg(cos), 4) + 0.0) AS mean_cos_to_centroid
            FROM scored GROUP BY label ORDER BY label""")
  )

  // ---------------------------------------------------------------- PQ ANN

  /** Product-quantization geometry: PqM subspaces × PqSub dims (= the
    * fixture's 64), PqK centroids per subspace. Each vector compresses to
    * PqM 4-bit-equivalent codes + one stored norm — ~20 bytes of serving
    * state per 256-byte vector, the 12× memory step that makes exhaustive
    * re-rank affordable once a corpus outgrows raw-vector residency.
    * PqM × PqK = 128 sub-centroids ≈ 4 KB: the codebook is a trivially
    * broadcast model artifact at any corpus size (its size depends on
    * dim, not N). */
  private[graft] val PqM = 8
  private[graft] val PqSub = 8
  private[graft] val PqK = 16

  /** Each vector exploded into its PqM subvectors: (vec_id, m, sub). */
  private def pqSubRows(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    e.select($"vec_id", explode(sequence(lit(0), lit(PqM - 1))).as("m"), $"embedding")
      .select($"vec_id", $"m",
        slice($"embedding", $"m" * PqSub + 1, lit(PqSub)).as("sub"))
  }

  /** Nearest sub-centroid per (vec_id, m) under L2 — encoding minimizes
    * reconstruction error (‖x−c‖² = ‖x‖²+‖c‖²−2⟨x,c⟩ via the codegen dot),
    * ties to the lower ccode by lexicographic struct min. The per-m
    * codebook rides a broadcast equi-join on m (PqK rows per key). */
  private def pqAssign(s: SparkSession, subRows: DataFrame, cb: DataFrame): DataFrame = {
    import s.implicits._
    val dotF = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      VectorFunctions.dot(s, a, b)
    val cbm = broadcast(cb.groupBy($"m")
      .agg(collect_list(struct($"ccode", $"cv")).as("cbm")))
    subRows.join(cbm, Seq("m"))
      .withColumn("ccode", array_min(transform($"cbm", c =>
        struct((dotF($"sub", $"sub") + dotF(c.getField("cv"), c.getField("cv"))
          - lit(2.0) * dotF($"sub", c.getField("cv"))).as("d"),
          c.getField("ccode").as("ccode")))).getField("ccode"))
      .drop("cbm")
  }

  /** The persisted PQ index: per-subspace codebook (PqM × PqK sub-
    * centroids, seeded from the PqK lowest-id vectors' subvectors and
    * refined by two per-subspace Lloyd rounds run as ONE dataflow keyed by
    * m — 8 quantizers train in the same two aggregates), plus the codes
    * table (vec_id, codes[PqM], norm). Both fingerprint-invalidated
    * layouts (the fineCentroids convention): training and encoding run
    * once per dataset; a query batch touches only the codes table.
    * Codes persist WITH the codebook they were encoded under — ADC
    * lookups must descend the same quantizer (the ivfIndex rule). */
  private[graft] def pqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    def fp = Layouts.fingerprint(Tables.embeddings(s, dir), "vec_id", "embedding")
    val codebook = Layouts.parquet(s, Layouts.pathOf("pq", dir, "codebook"), fp) {
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      var cb = pqSubRows(s, e.filter($"vec_id" < PqK))
        .select($"m", $"vec_id".cast("int").as("ccode"), $"sub".as("cv"))
      for (_ <- 1 to 2) {
        cb = pqAssign(s, pqSubRows(s, e), cb)
          .select($"m", $"ccode", posexplode($"sub").as(Seq("dim", "x")))
          .groupBy($"m", $"ccode", $"dim").agg(avg($"x").as("mu"))
          .groupBy($"m", $"ccode")
          .agg(transform(array_sort(collect_list(struct($"dim", $"mu"))),
            c => c.getField("mu").cast("float")).as("cv"))
      }
      cb
    }
    val codes = Layouts.parquet(s, Layouts.pathOf("pq", dir, "codes"), fp) {
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      pqAssign(s, pqSubRows(s, e), codebook)
        .withColumn("ss", VectorFunctions.dot(s, $"sub", $"sub"))
        .groupBy($"vec_id")
        .agg(transform(array_sort(collect_list(struct($"m", $"ccode"))),
          c => c.getField("ccode")).as("codes"),
          sqrt(sum($"ss")).as("norm"))
    }
    (codebook, codes)
  }

  /** ANN top-k by asymmetric distance computation over the PQ index: each
    * query precomputes a flat lookup table of ⟨q_m, c⟩ partial dots
    * (PqM × PqK doubles, built against the broadcast codebook), and every
    * candidate scores as the sum of PqM table lookups indexed by its
    * stored codes — no vector arithmetic on the corpus side at all.
    * Cosine re-derives from the stored norms: adc/(‖q‖·‖x‖).
    *
    * Scale shape: the serving scan reads the ~20-byte codes rows, never
    * the raw vectors; per-candidate cost is PqM array lookups (codegen'd
    * `element_at` over the broadcast LUT) instead of a dim-length float
    * loop; the only join is the BNLJ attach of the NumQueries-row LUT
    * frame (allowlisted — bounded side, same as bruteTopK). Composes
    * with IVF: at 100 TB the codes table persists bucketed by the IVF
    * cid and probes prune it first — PQ compresses what IVF selects.
    *
    * Round 11 adds the standard REFINE stage (the FAISS IndexRefineFlat
    * composition): ADC produces a PqShortlist-wide candidate slate per
    * query, and an exact-cosine re-rank over just those raw vectors
    * produces the final top-K. Cost: the corpus-sized stage still reads
    * only codes; the re-rank fetches PqShortlist·|queries| raw vectors by
    * key — bounded, corpus-size-independent. Quality: the final ranking
    * is exact over the slate, so ADC error can only cost recall (a miss
    * from the slate), never mis-rank what it kept.
    *
    * Oracle: graded on the planted twin batch, rank-1 slice. The twin's
    * whole ADC table is BIT-IDENTICAL to its source's (every LUT entry is
    * dot(2·v_sub, c) = 2·dot(v_sub, c) — exact in float — and qnorm
    * doubles, so adc/(qnorm·norm) cancels the 2), hence deterministic
    * given the persisted index; the source sits at ADC rank 1 on the
    * fixture (measured margin ≥0.03 at sf0.1, shortlist gives 64× slack),
    * and the exact re-rank then pins it at cosine exactly 1.0 (background
    * cap ≈0.55). Full-top-K recall/structure stay spec-covered via pqFull
    * in SimilaritySpec. */
  val pqTopK: GraftQuery = GraftQuery(
    "llm_sim_topk_pq",
    (s, dir) => {
      import s.implicits._
      pqSearch(s, dir, twinQueries(s, dir))
        .filter($"rn" === 1)
        .orderBy($"qid")
    },
    Some(twinServeOracle)
  )

  /** Exact re-rank slate width: how many ADC-ranked candidates per query
    * survive to the exact-cosine refine stage. */
  private[graft] val PqShortlist = 64

  /** The persisted raw-vector point-lookup store backing the refine
    * stage: embeddings partitioned by pmod(hash(vec_id), IndexGroups), so
    * a slate join on (vec_grp, vec_id) DYNAMICALLY PRUNES the scan to the
    * partition groups the slate touches — the Spark expression of the
    * key-value fetch a serving system does per refine candidate. At
    * 100 TB with thousands of groups, a query batch's refine reads
    * ≤ slate-many groups, never the corpus (reading embeddings.parquet
    * directly here would cost a full raw-vector scan — exactly what PQ
    * exists to avoid). Fingerprint-tied like every layout. */
  private[graft] def vecStore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Layouts.parquet(s, Layouts.pathOf("pq", dir, "vecstore"),
        Layouts.fingerprint(Tables.embeddings(s, dir), "vec_id", "embedding"),
        "vec_grp") {
      Tables.embeddings(s, dir).select($"vec_id", $"embedding")
        .withColumn("vec_grp", pmod(hash($"vec_id"), lit(IndexGroups)))
        .repartition($"vec_grp")
    }
  }

  /** Exact-cosine refine over an ADC slate (qid, qv, vec_id): fetch the
    * slate's raw vectors from the DPP-pruned vecStore, score exactly,
    * keep the top K per query. */
  private def pqRefine(s: SparkSession, dir: String, slate: DataFrame): DataFrame = {
    import s.implicits._
    val fetch = broadcast(
      slate.withColumn("vec_grp", pmod(hash($"vec_id"), lit(IndexGroups))))
    vecStore(s, dir).join(fetch, Seq("vec_grp", "vec_id"))
      .withColumn("sim", round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")))
      .filter($"rn" <= K)
      .select($"qid", $"rn", $"vec_id".as("nid"), $"sim")
  }

  /** Per-query ADC LUT frame for an arbitrary (qid, qv) query batch:
    * (qid, qv, qnorm, lut[PqM·PqK]) against the persisted PQ codebook. */
  private def pqLut(s: SparkSession, cb: DataFrame, queries: DataFrame): DataFrame = {
    import s.implicits._
    val dotF = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      VectorFunctions.dot(s, a, b)
    val pcb = broadcast(cb.agg(collect_list(struct($"m", $"ccode", $"cv")).as("pcb")))
    broadcast(
      queries.crossJoin(pcb)
        .select($"qid", $"qv",
          sqrt(dotF($"qv", $"qv")).as("qnorm"),
          transform(
            array_sort(transform($"pcb", c =>
              struct((c.getField("m") * PqK + c.getField("ccode")).as("idx"),
                dotF(slice($"qv", c.getField("m") * PqSub + 1, lit(PqSub)),
                  c.getField("cv")).as("pd")))),
            x => x.getField("pd")).as("lut")))
  }

  /** ADC sum over stored codes: PqM lookups into the query's LUT. */
  private def adcCol(lut: org.apache.spark.sql.Column,
                     codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      transform(sequence(lit(0), lit(PqM - 1)),
        mm => element_at(lut, mm * PqK + element_at(codes, mm + 1) + 1)),
      lit(0.0), (a, v) => a + v)

  /** PQ search with exact refine for an arbitrary (qid, qv) query frame:
    * ADC shortlist (top PqShortlist by approximate cosine over the codes
    * scan) → fetch raw vectors for the slate only → exact-cosine top-K. */
  private[graft] def pqSearch(s: SparkSession, dir: String,
                              queries: DataFrame): DataFrame = {
    import s.implicits._
    val (cb, codes) = pqIndex(s, dir)
    val qlut = pqLut(s, cb, queries)
    val slate = codes.join(qlut, $"vec_id" =!= $"qid")
      .withColumn("adc_sim", adcCol($"lut", $"codes") / ($"qnorm" * $"norm"))
      .withColumn("arn", row_number().over(
        Window.partitionBy($"qid").orderBy($"adc_sim".desc, $"vec_id")))
      .filter($"arn" <= PqShortlist)
      .select($"qid", $"qv", $"vec_id")
    pqRefine(s, dir, slate)
  }

  /** The full real-query PQ+refine top-K (the pre-oracle shape) — spec
    * coverage for recall vs bruteTopK and determinism over the persisted
    * index in SimilaritySpec. */
  private[graft] def pqFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    pqSearch(s, dir,
      e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("qid"), $"embedding".as("qv")))
      .orderBy($"qid", $"rn")
  }

  // ----------------------------------------------------- incremental index

  /** The APPENDED IVF index: base assignments (the full corpus) written
    * once, then a NEW-DATA batch — the exact-direction twins of every
    * 20th vector — assigned against the SAME persisted codebook and
    * appended into the same cid_grp partition directories: no Lloyd
    * re-run, no base rewrite; the recurring cost of keeping an ANN index
    * current is O(new vectors). Per-row assignment is a pure function of
    * (vector, codebook), so the base portion is row-identical to the
    * one-shot ivfIndex assignment (SimilaritySpec asserts it), and the
    * twin delta lands — under ANY codebook — in exactly its source's
    * inverted list (cosine assignment is scale-invariant), which is what
    * makes the append END-TO-END oracle-able: a mis-assigned or dropped
    * delta row is a missing rank-1 answer, not a silent recall dip. */
  private[graft] def appendedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = Layouts.pathOf("ivf", dir, "append")
    // ":v2": the delta definition changed in round 10 (post-watermark
    // corpus half → planted twins); the fingerprint covers only the
    // SOURCE, so the meta must version the layout semantics or a prior
    // session's twin-free layout would re-register as fresh.
    Layouts.persisted(path,
        Layouts.fingerprint(Tables.embeddings(s, dir), "vec_id", "embedding")
          + ":v2") {
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val codebook = cbOf(s, fineCentroids(s, dir))
      def assign(rows: DataFrame): DataFrame =
        rows.crossJoin(codebook)
          .withColumn("cid", array_max(centScores(s, $"embedding")).getField("cid"))
          .drop("cb")
          .withColumn("cid_grp", pmod(hash($"cid"), lit(IndexGroups)))
          .repartition($"cid_grp")
      assign(e)
        .write.mode("overwrite").partitionBy("cid_grp").parquet(path)
      assign(twinQueries(s, dir)
          .select($"qid".as("vec_id"), $"qv".as("embedding")))
        .write.mode("append").partitionBy("cid_grp").parquet(path)
    }
    s.read.parquet(path)
  }

  /** The probe-and-serve pipeline shared by the persisted and appended
    * index forms: broadcast probe descent over the index's own codebook,
    * DPP-pruned join on (cid_grp, cid), window top-k. */
  private[graft] def serveTopK(s: SparkSession, dir: String, assigned: DataFrame,
                               queries: DataFrame): DataFrame = {
    import s.implicits._
    val NProbe = 4
    val codebook = cbOf(s, fineCentroids(s, dir))
    val probes = broadcast(
      queries.crossJoin(codebook)
        .select($"qid", $"qv",
          explode(slice(reverse(array_sort(centScores(s, $"qv"))), 1, NProbe)
            .getField("cid")).as("cid"))
        .withColumn("cid_grp", pmod(hash($"cid"), lit(IndexGroups))))
    val scored = assigned.join(probes, Seq("cid_grp", "cid"))
      .filter($"vec_id" =!= $"qid")
      .withColumn("sim", round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")))
      .filter($"rn" <= K)
      .select($"qid", $"rn", $"vec_id".as("nid"), $"sim")
      .orderBy($"qid", $"rn")
  }

  /** ANN serving over the APPENDED index — the graded form of "keep the
    * index current without rebuilding it". Same probe pipeline as
    * llm_sim_topk_ivf_persisted; the layout underneath was produced by a
    * base write + an O(delta) append.
    *
    * Oracle (the mirror of ivfPersistedTopK's): queries are the twin
    * SOURCES (every 20th corpus vector, unscaled), the twins live in the
    * INDEX as the appended delta. Each source's first probe is its own
    * assigned list, where the appended twin sits (scale-invariant
    * assignment) scoring exactly 1.0 — so rank 1 is the closed form
    * `(vec_id, vec_id + TwinOffset, 1.0)` under any codebook. This
    * grades the APPEND itself end-to-end: if the O(delta) write missed a
    * row or assigned it to the wrong list, the twin is unreachable and
    * the hash compare fails. Full-top-K structure and base-portion
    * purity stay spec-covered in SimilaritySpec. */
  val indexAppendTopK: GraftQuery = GraftQuery(
    "llm_sim_index_append",
    (s, dir) => {
      import s.implicits._
      val queries = Tables.embeddings(s, dir).filter($"vec_id" % 20 === 7)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      serveTopK(s, dir, appendedIndex(s, dir), queries)
        .filter($"rn" === 1)
        .orderBy($"qid")
    },
    Some(s"""SELECT vec_id AS qid, 1 AS rn, vec_id + $TwinOffset AS nid,
                    CAST(1.0 AS DOUBLE) AS sim
             FROM embeddings WHERE vec_id % 20 = 7 ORDER BY qid""")
  )

  /** Tombstone set for the index DELETE lifecycle: the appended twins of
    * every 40th source vector — HALF the appended delta, so the compacted
    * index must both stop answering for the deleted half and keep
    * answering for the surviving half. Derived by re-assigning the
    * tombstoned vectors against the frozen codebook (assignment is a pure
    * function of (vector, codebook) — the append invariant), so building
    * the tombstone table costs O(deletes), never an index scan. Carries
    * cid_grp so a production compaction knows exactly which partition
    * directories the deletes touch. */
  private[graft] def tombstones(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val codebook = cbOf(s, fineCentroids(s, dir))
    twinQueries(s, dir)
      .filter(pmod($"qid" - TwinOffset, lit(40L)) === 7)
      .crossJoin(codebook)
      .withColumn("cid", array_max(centScores(s, $"qv")).getField("cid"))
      .select($"qid".as("vec_id"),
        pmod(hash($"cid"), lit(IndexGroups)).as("cid_grp"))
  }

  /** The COMPACTED IVF index: the appended index with the tombstoned rows
    * physically removed — the delete leg that completes the lifecycle
    * (build → append → serve → delete → compact). A real 100 TB vector
    * store takes deletes (GDPR erasure, dedup-driven retractions), and a
    * tombstone that only masks at serve time leaves the bytes on disk:
    * compaction is the step that makes the delete durable.
    *
    * Dataflow: one pass over the appended index, left-anti join against
    * the O(deletes) tombstone table on vec_id (broadcast — the tombstone
    * batch is bounded by construction; at scale the join key rides the
    * shared cid_grp partitioning so only TOUCHED partition directories
    * rewrite via dynamic partition overwrite, the ingest_retention
    * survivor discipline — here the planted slice touches every group, so
    * the copy is total and row-identity to a fresh build on the surviving
    * corpus is the spec-asserted compaction invariant). Written to its
    * own layout path: the appended layout stays immutable (its
    * fingerprint meta still describes it), and the compacted layout
    * versions independently. */
  private[graft] def compactedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = Layouts.pathOf("ivf", dir, "compacted")
    Layouts.parquet(s, path,
        Layouts.fingerprint(Tables.embeddings(s, dir), "vec_id", "embedding")
          + ":v1", "cid_grp") {
      val tombs = tombstones(s, dir)
      tombs.write.mode("overwrite").parquet(s"$path.tombstones")
      appendedIndex(s, dir)
        .join(broadcast(s.read.parquet(s"$path.tombstones").select($"vec_id")),
          Seq("vec_id"), "left_anti")
        .repartition($"cid_grp")
    }
  }

  /** ANN serving over the COMPACTED index — grades the DELETE end-to-end:
    * every 20th corpus vector queries the index that held its appended
    * twin; twins of every 40th vector were tombstoned and compacted out.
    * The readout is the twin's rank in the query's top-K (1 for
    * survivors — exact-direction cosine 1.0 under any codebook; 0 =
    * absent for the deleted half). A compaction that leaves a tombstoned
    * row behind answers rank 1 where the oracle says 0; one that drops a
    * survivor (or whole partitions) answers 0 where the oracle says 1 —
    * both are hash failures, so neither failure mode can pass silently.
    * SimilaritySpec additionally pins the compacted layout row-identical
    * to a fresh build on the surviving corpus and serve-parity with
    * tombstone masking. */
  val indexDeleteTopK: GraftQuery = GraftQuery(
    "llm_sim_index_delete",
    (s, dir) => {
      import s.implicits._
      val queries = Tables.embeddings(s, dir).filter($"vec_id" % 20 === 7)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      serveTopK(s, dir, compactedIndex(s, dir), queries)
        .groupBy($"qid")
        .agg(coalesce(min(when($"nid" === $"qid" + TwinOffset, $"rn")), lit(0))
          .as("twin_rank"))
        .orderBy($"qid")
    },
    Some(s"""SELECT vec_id AS qid,
                    CAST(CASE WHEN vec_id % 40 = 7 THEN 0 ELSE 1 END AS INT)
                      AS twin_rank
             FROM embeddings WHERE vec_id % 20 = 7 ORDER BY qid""")
  )

  /** The combined IVF+PQ serving layout — inverted lists that STORE the
    * PQ codes (the FAISS IVFPQ file format, as a partitioned parquet
    * table): ivfIndex's assignments joined 1:1 with the codes table,
    * persisted partitioned by cid_grp. Serving needs no other corpus
    * state: candidate pruning comes from the partition layout, scoring
    * from the stored codes. Derived from two fingerprint-tied layouts
    * and fingerprinted itself, so a fixture change rebuilds all three. */
  private[graft] def ivfPqIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Layouts.parquet(s, Layouts.pathOf("pq", dir, "ivfcodes"),
        Layouts.fingerprint(Tables.embeddings(s, dir), "vec_id", "embedding"),
        "cid_grp") {
      val (_, assigned) = ivfIndex(s, dir)
      val (_, codes) = pqIndex(s, dir)
      assigned.select($"vec_id", $"cid", $"cid_grp")
        .join(codes, Seq("vec_id"))
        .repartition($"cid_grp")
    }
  }

  /** ANN top-k via IVF + PQ — candidate pruning AND compressed scoring in
    * one serving pipeline (FAISS IVFPQ): each query descends the IVF
    * codebook to its NProbe lists, the scan dynamically prunes to the
    * touched cid-groups, and every surviving candidate scores as PqM
    * lookups into the query's LUT over its STORED codes — the corpus-side
    * raw vectors are never read at serve time (the plan's only embedding
    * scan is the NumQueries-row query side). This is the 100 TB serving
    * shape: the index layout is ~20 bytes/vector, probes touch a few
    * partition groups, and scoring is memory-bandwidth-bound lookups.
    *
    * Recall compounds both approximations (list pruning × code
    * quantization); SimilaritySpec measures it against brute force and
    * pins structure + determinism over the persisted layouts.
    *
    * Round 11 adds the same exact REFINE stage as llm_sim_topk_pq (ADC
    * slate → raw-vector re-rank; see pqTopK scaladoc), and grades the
    * planted twin batch's rank-1 slice: the IVF descent is scale-
    * invariant (twin's first probe = source's list under any codebook),
    * the twin's ADC table is bit-identical to its source's (the ×2.0f
    * cancels in adc/(qnorm·norm)), and the source holds ADC rank 1 on
    * the fixture globally — a fortiori within the probed lists — so the
    * refine pins (qid, source, 1.0). Full-top-K recall/structure stay
    * spec-covered via ivfPqFull. */
  val ivfPqTopK: GraftQuery = GraftQuery(
    "llm_sim_topk_ivfpq",
    (s, dir) => {
      import s.implicits._
      ivfPqSearch(s, dir, twinQueries(s, dir))
        .filter($"rn" === 1)
        .orderBy($"qid")
    },
    Some(twinServeOracle)
  )

  /** IVF+PQ search with exact refine for an arbitrary (qid, qv) query
    * frame: probe descent prunes the partitioned codes index, ADC ranks
    * the probed candidates, the top PqShortlist re-rank exactly. */
  private[graft] def ivfPqSearch(s: SparkSession, dir: String,
                                 queries: DataFrame): DataFrame = {
    import s.implicits._
    val NProbe = 4
    val index = ivfPqIndex(s, dir)
    val (cb, _) = pqIndex(s, dir)
    val codebook = cbOf(s, fineCentroids(s, dir))
    // Query side: IVF probe descent AND the PQ LUT, built in one frame
    // (the LUT rides each probe row; it's bounded — |queries|·NProbe rows).
    val qlut = pqLut(s, cb, queries)
    val probes = broadcast(
      qlut.crossJoin(codebook)
        .select($"qid", $"qv", $"qnorm", $"lut",
          explode(slice(reverse(array_sort(centScores(s, $"qv"))), 1, NProbe)
            .getField("cid")).as("cid"))
        .withColumn("cid_grp", pmod(hash($"cid"), lit(IndexGroups))))
    val slate = index.join(probes, Seq("cid_grp", "cid"))
      .filter($"vec_id" =!= $"qid")
      .withColumn("adc_sim", adcCol($"lut", $"codes") / ($"qnorm" * $"norm"))
      .withColumn("arn", row_number().over(
        Window.partitionBy($"qid").orderBy($"adc_sim".desc, $"vec_id")))
      .filter($"arn" <= PqShortlist)
      .select($"qid", $"qv", $"vec_id")
    pqRefine(s, dir, slate)
  }

  /** The full real-query IVFPQ+refine top-K (the pre-oracle shape) — spec
    * coverage for recall vs bruteTopK and layout determinism. */
  private[graft] def ivfPqFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    ivfPqSearch(s, dir,
      e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("qid"), $"embedding".as("qv")))
      .orderBy($"qid", $"rn")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    * greedily pick MmrK of the top-MmrCand candidates per query,
    * balancing relevance against redundancy with what's already picked —
    * score(d) = λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s). The
    * retrieval-diversification stage every RAG pipeline runs after ANN.
    *
    * Scale shape: the ONLY corpus-sized stage is candidate generation
    * (here the brute top-MmrCand pipeline; at scale the IVF probe serves
    * the same rows). The greedy loop runs entirely on the bounded
    * queries×candidates table — localCheckpoint cuts the corpus scan out
    * of the iteration lineage, and each of the MmrK−1 steps is an
    * anti-join + equi-join + hash aggregate + 1-row-per-query argmax
    * over ≤ NumQueries·MmrCand rows, independent of corpus size. No
    * array-typed aggregation buffer anywhere (the keep_best
    * SortAggregate lesson): the selected vector is re-fetched from the
    * candidate table by key instead of riding the argmax.
    *
    * Determinism: rel and the pairwise penalty round at 4 before the
    * combination; the argmax orders by the identical double expression in
    * both engines with nid as tiebreak. Rank 1 is pure relevance (the
    * penalty set is empty). The oracle is the same greedy unrolled into
    * per-step CTEs. */
  val mmrDiversify: GraftQuery = {
    val lambda = 0.7
    val nCand = 20
    val kSel = 5
    GraftQuery(
      "llm_sim_mmr",
      (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
        val q = broadcast(
          e.filter($"vec_id" < NumQueries)
            .select($"vec_id".as("qid"), $"embedding".as("qv")))
        val cand = e.join(q, $"vec_id" =!= $"qid")
          .select($"qid", $"vec_id".as("nid"),
            round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4).as("rel"),
            $"embedding".as("v"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"qid").orderBy($"rel".desc, $"nid")))
          .filter($"rn" <= nCand)
          .localCheckpoint()
        var acc = cand.filter($"rn" === 1)
          .select($"qid", $"nid", $"v", $"rel".as("score"), lit(1).as("rank"))
        for (t <- 2 to kSel) {
          val pen = cand
            .join(acc.select($"qid", $"nid"), Seq("qid", "nid"), "left_anti")
            .join(acc.select($"qid", $"v".as("sv")), Seq("qid"))
            .groupBy($"qid", $"nid")
            .agg(max($"rel").as("rel"),
              max(round(VectorFunctions.cosine(s, $"v", $"sv"), 4)).as("pen"))
          val pick = pen
            .withColumn("mmr", lit(lambda) * $"rel" - lit(1 - lambda) * $"pen")
            .withColumn("rn", row_number().over(
              Window.partitionBy($"qid").orderBy($"mmr".desc, $"nid")))
            .filter($"rn" === 1)
            .select($"qid", $"nid", round($"mmr", 4).as("score"), lit(t).as("rank"))
            .join(cand.select($"qid", $"nid", $"v"), Seq("qid", "nid"))
          // The accumulator is ≤ NumQueries·kSel rows but its lineage
          // doubles every round (pen references acc twice); checkpointing
          // the tiny frame keeps each round's plan flat.
          acc = acc.unionByName(pick.select($"qid", $"nid", $"v", $"score", $"rank"))
            .localCheckpoint()
        }
        acc.select($"qid", $"rank", $"nid", $"score").orderBy($"qid", $"rank")
      },
      Some {
        val steps = (2 to kSel).map { t =>
          s"""pen$t AS (
                SELECT c.qid, c.nid, max(c.rel) AS rel,
                       max(round(list_cosine_similarity(c.v, a.v), 4)) AS pen
                FROM cand c JOIN acc${t - 1} a ON c.qid = a.qid
                WHERE NOT EXISTS (SELECT 1 FROM acc${t - 1} x
                                  WHERE x.qid = c.qid AND x.nid = c.nid)
                GROUP BY c.qid, c.nid),
              p$t AS (
                SELECT qid, nid, (round($lambda * rel - ${1 - lambda} * pen, 4) + 0.0) AS score,
                       $t AS rank
                FROM (SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY ($lambda * rel - ${1 - lambda} * pen) DESC, nid) AS rn
                      FROM pen$t) WHERE rn = 1),
              s$t AS (SELECT p.qid, p.nid, c.v, p.score, p.rank
                      FROM p$t p JOIN cand c ON p.qid = c.qid AND p.nid = c.nid),
              acc$t AS (SELECT * FROM acc${t - 1} UNION ALL SELECT * FROM s$t)"""
        }.mkString(",\n")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
              scored AS (
                SELECT q.qid, e.vec_id AS nid,
                       (round(list_cosine_similarity(q.qv, e.v), 4) + 0.0) AS rel, e.v
                FROM q JOIN e ON e.vec_id <> q.qid),
              cand AS (SELECT * FROM (
                  SELECT *, row_number() OVER (PARTITION BY qid
                           ORDER BY rel DESC, nid) AS rn
                  FROM scored) WHERE rn <= $nCand),
              acc1 AS (SELECT qid, nid, v, rel AS score, 1 AS rank
                       FROM cand WHERE rn = 1),
              $steps
            SELECT qid, rank, nid, score FROM acc$kSel ORDER BY qid, rank"""
      }
    )
  }

  /** FILTERED vector search — top-k among candidates sharing the query's
    * metadata label (in-domain retrieval: "nearest neighbors within the
    * same class"). The production-critical variant every vector store
    * grew in the RAG era: a metadata predicate must compose WITH the
    * similarity search, not as a post-filter over an unfiltered top-k
    * (which silently starves queries whose matching class is sparse).
    *
    * The plan story is the point: the label equality is an EQUI key, so
    * what is a broadcast nested-loop all-pairs in llm_sim_topk becomes a
    * BroadcastHashJoin on label here — the predicate prunes candidates
    * BEFORE any cosine is computed, cutting the scored set by ~the label
    * cardinality. At index scale the same predicate becomes partition
    * pruning on a label-partitioned layout (the ivf_persisted DPP
    * pattern composes directly). */
  /** Oracle for BOTH filtered forms (declared before the GraftQuery vals
    * that capture it): the persisted form is the same exact semantics
    * over a different storage layout, so it grades against the identical
    * SQL — layout must not change one row. */
  private val filteredOracle: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv
              FROM e WHERE vec_id < $NumQueries),
        scored AS (
          SELECT q.qid, e.vec_id AS nid, e.label,
                 (round(list_cosine_similarity(q.qv, e.v), 4) + 0.0) AS sim
          FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> q.qid),
        ranked AS (
          SELECT qid, nid, label, sim,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM scored)
        SELECT qid, rn, nid, label, sim FROM ranked WHERE rn <= $K
        ORDER BY qid, rn"""

  val filteredTopK: GraftQuery = GraftQuery(
    "llm_sim_topk_filtered",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
        .select($"vec_id", $"label", $"embedding")
      val q = broadcast(
        e.filter($"vec_id" < NumQueries)
          .select($"vec_id".as("qid"), $"label".as("qlabel"),
            $"embedding".as("qv")))
      val scored = e.join(q,
          $"label" === $"qlabel" && $"vec_id" =!= $"qid")
        .withColumn("sim", round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4))
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")
      scored
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= K)
        .select($"qid", $"rn", $"vec_id".as("nid"), $"label", $"sim")
        .orderBy($"qid", $"rn")
    },
    Some(filteredOracle)
  )

  /** The label-PARTITIONED embedding layout: the filtered-search serving
    * form. Partition values (unlike bucket ids) are visible to dynamic
    * partition pruning, so a query batch's label set prunes the scan at
    * the DIRECTORY level before any file opens (the ivfIndex pattern,
    * with the user-facing metadata column itself as the partition key).
    * Fingerprinted like every layout; plain partitioned parquet. */
  private def labelIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Layouts.parquet(s, Layouts.pathOf("labelidx", dir),
        Layouts.fingerprint(Tables.embeddings(s, dir), "vec_id", "embedding"),
        "label") {
      Tables.embeddings(s, dir)
        .select($"vec_id", $"embedding", $"label")
        .repartition($"label")
    }
  }

  /** Filtered search over the PERSISTED label-partitioned layout — the
    * recurring-query form of llm_sim_topk_filtered: the metadata
    * predicate is now a physical partition predicate, and the broadcast
    * probe join DYNAMICALLY PRUNES the scan to the label directories
    * the query batch touches (asserted on the executed plan). At 100 TB
    * with a high-cardinality metadata domain, a query batch reads its
    * few label partitions, not the corpus. Same exact semantics as the
    * unpersisted form, graded against the identical oracle — the layout
    * must not change one row. */
  val filteredPersistedTopK: GraftQuery = GraftQuery(
    "llm_sim_topk_filtered_persisted",
    (s, dir) => {
      import s.implicits._
      val idx = labelIndex(s, dir)
      val q = broadcast(
        Tables.embeddings(s, dir)
          .filter($"vec_id" < NumQueries)
          .select($"vec_id".as("qid"), $"label", $"embedding".as("qv")))
      val scored = idx.join(q, Seq("label"))
        .filter($"vec_id" =!= $"qid")
        .withColumn("sim", round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")))
        .filter($"rn" <= K)
        .select($"qid", $"rn", $"vec_id".as("nid"), $"label", $"sim")
        .orderBy($"qid", $"rn")
    },
    Some(filteredOracle)
  )

  /** Neighbors kept per vector in the kNN JOIN, and lists probed. W = 5
    * is the measured operating point from SimilaritySpec's probe sweep
    * (recall@3 vs the exact join: W=2 → 0.48, 3 → 0.61, 5 → 0.78,
    * 8 → 0.91 on the near-uniform fixture): the first width clearing the
    * 0.7 production floor. Candidate volume is ~2·W·cellsize per vector,
    * so 5 costs 1.67× the old W=3 for +0.17 recall — the knee of the
    * curve; 8 pays another 1.6× for +0.13 and stays available per-call
    * via knnJoinPipeline. */
  private[graft] val KnnJoinK = 3
  private[graft] val KnnProbe = 5

  /** kNN JOIN: the top-KnnJoinK nearest neighbors of EVERY corpus vector
    * (not a fixed query batch) — the all-pairs primitive behind semantic
    * dedup at corpus scale, hard-negative mining, and kNN-graph
    * construction for label propagation. Brute force is O(N²) cosines;
    * the IVF-blocked form turns it into an EQUI-JOIN: every vector is
    * assigned to its nearest fine-codebook cell (the inverted list), and
    * probes its KnnProbe nearest cells, so candidate pairs are exactly
    * the (assignment ⋈ probe) matches on cid — O(N·W·cellsize) cosines,
    * the cost model that survives 100 TB (a vector's neighbors
    * concentrate in its nearest cells; recall measured in
    * SimilaritySpec against the brute-force join).
    *
    * Scale shape: both sides read the ONE persisted fine codebook
    * (fineCentroids — a bounded broadcast model artifact); assignment
    * and probes are scan projections; the candidate join is
    * shuffle_hash on cid (both sides O(N·~W) rows — never broadcast);
    * per-vector top-k is a window over candidates, partitioned by the
    * probing vector. Candidate generation is SYMMETRIC (a pair qualifies
    * when either side probes the other's cell, and each scored row is
    * emitted in both directions), so the same (qid, nid) pair can arrive
    * via up to KnnProbe shared cells — one `distinct()` dedup shuffle on
    * the id-pair rows (ids + a rounded sim, far smaller than the
    * vector-carrying join input) collapses them before the top-k window.
    *
    * Oracle (planted twins, the family construction): the graded run
    * unions the corpus with the exact-direction twins; same-cell
    * assignment guarantees every (source, twin) pair is a candidate
    * under ANY codebook, scores exactly 1.0, and wins rank 1 on both
    * sides (background sims cap ≈0.55, and symmetric emission serves
    * both directions). The graded projection is the planted
    * participants' rank-1 rows (`qid % 20 = 7` — twin ids inherit the
    * residue because TwinOffset ≡ 0 mod 20); full top-K structure and
    * the recall sweep stay spec-covered via knnJoinPipeline over the
    * raw corpus. */
  val knnJoin: GraftQuery = GraftQuery(
    "llm_sim_knn_join",
    (s, dir) => {
      import s.implicits._
      knnJoinPipeline(s, dir, KnnProbe, plantTwins = true)
        .filter($"qid" % 20 === 7 && $"rn" === 1)
        .orderBy($"qid")
    },
    Some(s"""WITH p AS (SELECT vec_id FROM embeddings WHERE vec_id % 20 = 7)
             SELECT qid, 1 AS rn, nid, CAST(1.0 AS DOUBLE) AS sim FROM (
               SELECT vec_id AS qid, vec_id + $TwinOffset AS nid FROM p
               UNION ALL
               SELECT vec_id + $TwinOffset AS qid, vec_id AS nid FROM p)
             ORDER BY qid""")
  )

  /** The kNN-join dataflow at an explicit probe width — the registered
    * query runs W = KnnProbe with twins planted; SimilaritySpec sweeps W
    * over the raw corpus for the recall/cost curve that justifies the
    * default (the ivf2 W-sweep convention). */
  private[graft] def knnJoinPipeline(s: SparkSession, dir: String,
                                     probeW: Int,
                                     plantTwins: Boolean = false): DataFrame = {
      import s.implicits._
      val base = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val e =
        if (plantTwins)
          base.unionAll(twinQueries(s, dir)
            .select($"qid".as("vec_id"), $"qv".as("embedding")))
        else base
      val cb = cbOf(s, fineCentroids(s, dir))
      val assigned = e.crossJoin(cb)
        .withColumn("cid", array_max(centScores(s, $"embedding")).getField("cid"))
        .drop("cb")
      val probes = e.crossJoin(cb)
        .select($"vec_id".as("qid"), $"embedding".as("qv"),
          explode(slice(reverse(array_sort(centScores(s, $"embedding"))), 1, probeW)
            .getField("cid")).as("cid"))
      // SYMMETRIC candidate generation: a pair qualifies when EITHER side
      // probes the other's cell (cosine is symmetric, so each joined row
      // scores once and serves both directions). This roughly doubles
      // effective probe coverage for one extra pair-dedup shuffle — the
      // standard kNN-join trick, worth it because the join IS the recall
      // bottleneck on near-uniform vectors.
      val scored = assigned.join(probes.hint("shuffle_hash"), Seq("cid"))
        .filter($"vec_id" =!= $"qid")
        .withColumn("sim", round(VectorFunctions.cosine(s, $"qv", $"embedding"), 4))
        .select(explode(array(
          struct($"qid".as("qid"), $"vec_id".as("nid"), $"sim"),
          struct($"vec_id".as("qid"), $"qid".as("nid"), $"sim"))).as("p"))
        .select($"p.qid", $"p.nid", $"p.sim")
        .distinct()
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")))
        .filter($"rn" <= KnnJoinK)
        .select($"qid", $"rn", $"nid", $"sim")
        .orderBy($"qid", $"rn")
  }

  /** Scalar (int8) quantization QA — the OTHER embedding-compression
    * family next to PQ: each dimension maps affinely onto the 255-step
    * code grid [−127, 127] by its global per-dimension min/max, 4 bytes →
    * 1 byte per dimension. The graded query is the quantization ERROR
    * profile a corpus owner reads before flipping a serving index to
    * int8: per-vector max absolute reconstruction error and the exact
    * integerized sum of squared errors.
    *
    * Scale shape: per-dim ranges via posexplode + hash agg on dim —
    * partial aggregation reduces EVERY partition to D rows before the one
    * D-row exchange (the Lloyd-update shape); the D-row range table
    * broadcasts back onto the exploded scan, so codes and errors are scan
    * projections. At 100 TB the range pass is one cheap extra scan and
    * the encode pass writes a 4× smaller layout; nothing here depends on
    * N beyond the scans.
    *
    * Determinism: codes via floor(t + 0.5) (engine-agnostic half-up —
    * Spark round(DOUBLE) goes through the shortest-decimal string, DuckDB
    * rounds the binary value, so literal round() is the one trap here);
    * global min/max are exact; the SSE column is Σ floor(err²·1e12) in
    * BIGINT — an exact integer in both engines, no double sum ordering
    * anywhere. Only max_abs_err rounds a double (order-free max). */
  val embedQuantize: GraftQuery = GraftQuery(
    "llm_embed_quantize",
    (s, dir) => {
      import s.implicits._
      val d = Tables.embeddings(s, dir)
        .select($"vec_id", posexplode($"embedding").as(Seq("dim", "xf")))
        .select($"vec_id", $"dim", $"xf".cast("double").as("x"))
      val ranges = d.groupBy($"dim")
        .agg(min($"x").as("mn"), max($"x").as("mx"))
      d.join(broadcast(ranges), Seq("dim"))
        .withColumn("code",
          when($"mx" === $"mn", lit(0L))
            .otherwise(floor(($"x" - $"mn") * 254 / ($"mx" - $"mn") + 0.5) - 127))
        .withColumn("err",
          $"x" - ($"mn" + ($"code" + 127) * ($"mx" - $"mn") / 254))
        .groupBy($"vec_id")
        .agg(count(lit(1)).as("n_dims"),
          round(max(abs($"err")), 6).as("max_abs_err"),
          sum(floor($"err" * $"err" * 1e12).cast("long")).as("sse_e12"))
        .orderBy($"vec_id")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            d AS (SELECT vec_id, generate_subscripts(v, 1) AS dim,
                         unnest(v) AS x
                  FROM e),
            r AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM d GROUP BY dim),
            c AS (SELECT vec_id, x, mn, mx,
                         CASE WHEN mx = mn THEN 0
                              ELSE floor((x - mn) * 254 / (mx - mn) + 0.5) - 127
                         END AS code
                  FROM d JOIN r USING (dim)),
            q AS (SELECT vec_id,
                         x - (mn + (code + 127) * (mx - mn) / 254) AS err
                  FROM c)
            SELECT vec_id, count(*) AS n_dims,
                   (round(max(abs(err)), 6) + 0.0) AS max_abs_err,
                   CAST(sum(CAST(floor(err * err * 1e12) AS BIGINT)) AS BIGINT)
                     AS sse_e12
            FROM q GROUP BY vec_id ORDER BY vec_id""")
  )

  /** Per-source embedding drift — each source's centroid compared to the
    * corpus centroid (cosine + L2): the representation-space monitor a
    * multi-source corpus runs per ingest ("did src13's embedding
    * distribution move?"), and the embedding-side complement of
    * llm_domain_mix. A source drifting in embedding space flags a
    * content shift long before token statistics move.
    *
    * Determinism — the llm_embed_stats float-quantization device: per-
    * dimension means are unordered double folds whose last-ulp noise the
    * FLOAT downcast absorbs, so both engines hold bit-identical
    * centroids; cosine/L2 between two ≤dim-length float vectors are then
    * fixed-order folds, rounded at the projection.
    *
    * Scale shape: one posexplode hash aggregate onto the (source, dim)
    * domain (map-side combined — the fact table reduces to
    * sources × dim rows), centroids assembled by sorted collect over the
    * bounded dim domain, the ≤1-row global centroid broadcast. */
  val embedDrift: GraftQuery = GraftQuery(
    "llm_embed_drift",
    (s, dir) => {
      import s.implicits._
      val e = Tables.documents(s, dir).select($"doc_id", $"source")
        .join(Tables.embeddings(s, dir).hint("shuffle_hash"),
          $"doc_id" === $"vec_id")
        .select($"source", $"embedding")
      val dims = e
        .select($"source", posexplode($"embedding").as(Seq("dim", "x")))
        .groupBy($"source", $"dim")
        .agg(avg($"x").as("m"), count(lit(1)).as("n"))
        .localCheckpoint() // per-source centroids AND the global roll-up
      val cents = dims.groupBy($"source")
        .agg(transform(array_sort(collect_list(struct($"dim", $"m"))),
          c => c.getField("m").cast("float")).as("c"),
          first($"n").as("n_vecs"))
      // global centroid = the n-weighted roll-up of the per-source means
      // (exactly the corpus mean, computed without a second fact pass)
      val global = dims.groupBy($"dim")
        .agg((sum($"m" * $"n") / sum($"n")).as("g"))
        .groupBy()
        .agg(transform(array_sort(collect_list(struct($"dim", $"g"))),
          c => c.getField("g").cast("float")).as("gc"))
      cents.crossJoin(broadcast(global))
        .select($"source", $"n_vecs",
          round(VectorFunctions.cosine(s, $"c", $"gc"), 4).as("cos_to_global"),
          round(sqrt(greatest(
            VectorFunctions.dot(s, $"c", $"c")
              + VectorFunctions.dot(s, $"gc", $"gc")
              - lit(2.0) * VectorFunctions.dot(s, $"c", $"gc"), lit(0.0))), 4)
            .as("l2_to_global"))
        .orderBy($"source")
    },
    Some("""WITH e AS (
              SELECT d.source, CAST(em.embedding AS DOUBLE[]) AS v
              FROM documents d JOIN embeddings em ON d.doc_id = em.vec_id),
            dims AS (
              SELECT source, dim, avg(x) AS m, count(*) AS n
              FROM (SELECT source, generate_subscripts(v, 1) AS dim,
                           unnest(v) AS x
                    FROM e)
              GROUP BY 1, 2),
            cents AS (
              SELECT source,
                     list_transform(list(m ORDER BY dim),
                                    y -> CAST(CAST(y AS FLOAT) AS DOUBLE)) AS c,
                     CAST(max(n) AS BIGINT) AS n_vecs
              FROM dims GROUP BY source),
            gdims AS (
              SELECT dim, sum(m * n) / sum(n) AS g
              FROM dims GROUP BY dim),
            gc AS (
              SELECT list_transform(list(g ORDER BY dim),
                                    y -> CAST(CAST(y AS FLOAT) AS DOUBLE)) AS gc
              FROM gdims)
            SELECT source, n_vecs,
                   (round(list_cosine_similarity(c, gc.gc), 4) + 0.0) AS cos_to_global,
                   (round(sqrt(greatest(
                     list_sum(list_transform(c, y -> y * y))
                     + list_sum(list_transform(gc.gc, y -> y * y))
                     - 2.0 * list_dot_product(c, gc.gc), 0.0)), 4) + 0.0) AS l2_to_global
            FROM cents, gc ORDER BY source""")
  )

  /** EMBEDDING OUTLIER AUDIT — per-source distance-to-centroid z-scores:
    * vectors far from their source's centroid are mislabeled, corrupted,
    * or off-distribution documents (the embedding-space complement of
    * llm_quality's text heuristics); the readout is each source's
    * outlier count (z > 2) and distance profile, the audit run before
    * trusting a source's embeddings for dedup or retrieval.
    *
    * Determinism: per-vector squared distance folds the dims in array
    * order (identical chains both engines), then QUANTIZES to an exact
    * integer (floor(d²·10⁴)) so the per-source moment sums are BIGINT
    * folds — never an unordered double aggregate (the registry's
    * determinism discipline); z, mean and max are fixed chains over
    * identical integers.
    *
    * Scale shape: centroids are one posexplode aggregate onto the
    * (source × dim) domain, broadcast back (bounded); the distance pass
    * is one map-side projection; the moment join is a bounded-row
    * broadcast. A source-keyed shuffle would hot-key (few sources) —
    * there isn't one anywhere in this plan. */
  val embedOutliers: GraftQuery = GraftQuery(
    "llm_embed_outliers",
    (s, dir) => {
      import s.implicits._
      val e = Tables.documents(s, dir).select($"doc_id", $"source")
        .join(Tables.embeddings(s, dir).hint("shuffle_hash"),
          $"doc_id" === $"vec_id")
        .select($"source", $"vec_id", $"embedding")
      val cents = e
        .select($"source", posexplode($"embedding").as(Seq("dim", "x")))
        .groupBy($"source", $"dim").agg(avg($"x").as("m"))
        .groupBy($"source")
        .agg(transform(array_sort(collect_list(struct($"dim", $"m"))),
          c => c.getField("m")).as("c"))
      val dist = e.join(broadcast(cents), "source")
        .withColumn("d2", aggregate(
          zip_with($"embedding", $"c",
            (x, m) => (x.cast("double") - m) * (x.cast("double") - m)),
          lit(0.0), (acc, v) => acc + v))
        .withColumn("di", floor($"d2" * 1e4).cast("long"))
      val stats = dist.groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"di").as("sd"),
          GraftQuery.guarded(sum($"di" * $"di"),
            count(lit(1)).cast("double")
              * max(abs($"di")).cast("double") * max(abs($"di")).cast("double")
              < lit(9e18),
            "llm_embed_outliers: Σd² past BIGINT headroom").as("sd2"))
        .withColumn("mean_i", $"sd".cast("double") / $"n".cast("double"))
        .withColumn("sd_i", sqrt(
          ($"n".cast("double") * $"sd2".cast("double")
            - $"sd".cast("double") * $"sd".cast("double"))
            / ($"n".cast("double") * ($"n".cast("double") - 1.0))))
      dist.join(broadcast(stats.select($"source", $"n", $"mean_i", $"sd_i")),
          "source")
        .withColumn("z", when($"sd_i" > 1e-9,
          ($"di".cast("double") - $"mean_i") / $"sd_i"))
        .groupBy($"source")
        .agg(first($"n").as("n_vecs"),
          sum(when($"z" > 2.0, 1L).otherwise(0L)).as("n_outliers"),
          first($"mean_i").as("m_i"), max($"z").as("mz"))
        .select($"source", $"n_vecs", $"n_outliers",
          GraftQuery.roundNorm($"m_i" / 1e4, 6).as("mean_d2"),
          GraftQuery.roundNorm($"mz", 4).as("max_z"))
        .orderBy($"source")
    },
    Some("""WITH e AS (
              SELECT d.source, em.vec_id, CAST(em.embedding AS DOUBLE[]) AS v
              FROM documents d JOIN embeddings em ON d.doc_id = em.vec_id),
            dims AS (
              SELECT source, dim, avg(x) AS m
              FROM (SELECT source, generate_subscripts(v, 1) AS dim,
                           unnest(v) AS x
                    FROM e)
              GROUP BY 1, 2),
            cents AS (
              SELECT source, list(m ORDER BY dim) AS c
              FROM dims GROUP BY source),
            dist AS (
              SELECT e.source, e.vec_id,
                     CAST(floor(list_sum(list_transform(
                       range(1, len(e.v) + 1),
                       i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))) * 1e4) AS BIGINT) AS di
              FROM e JOIN cents c USING (source)),
            st AS (
              SELECT source, count(*) AS n,
                     CAST(sum(di) AS BIGINT) AS sd,
                     CAST(sum(di * di) AS BIGINT) AS sd2
              FROM dist GROUP BY source),
            m AS (
              SELECT source, n,
                     CAST(sd AS DOUBLE) / n AS mean_i,
                     sqrt((CAST(n AS DOUBLE) * sd2 - CAST(sd AS DOUBLE) * sd)
                          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd_i
              FROM st),
            z AS (
              SELECT dist.source,
                     CASE WHEN m.sd_i > 1e-9
                          THEN (CAST(dist.di AS DOUBLE) - m.mean_i) / m.sd_i END AS z,
                     m.n, m.mean_i
              FROM dist JOIN m USING (source))
            SELECT source, CAST(max(n) AS BIGINT) AS n_vecs,
                   CAST(sum(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                   (round(max(mean_i) / 1e4, 6) + 0.0) AS mean_d2,
                   (round(max(z), 4) + 0.0) AS max_z
            FROM z GROUP BY source ORDER BY source""")
  )

  /** EMBEDDING PCA — the corpus's top principal direction via eight
    * power iterations on the 64×64 covariance, done ENTIRELY in column
    * expressions on a 1-row frame (no driver-side linear algebra, no
    * collect): the readout is the leading eigenvalue, its explained-
    * variance share and the head of the (sign-pinned) eigenvector —
    * the "is this embedding space collapsing to one axis?" audit, and
    * the training step behind PCA-whitening / dimension-pruning
    * decisions for retrieval indexes.
    *
    * Determinism: the (Σxᵢxⱼ, Σxᵢ) sufficient statistics QUANTIZE to
    * exact BIGINTs (floor·10⁴ / ·10⁶) before the covariance forms, so
    * both engines iterate the IDENTICAL matrix; each matvec folds j in
    * index order (identical chains), each normalization divides by the
    * identical ‖v‖; the sign pins to the component of max |v| (exact
    * compare of identical doubles).
    *
    * Scale shape: the Gram pass is one posexplode² map-side-combined
    * hash aggregate onto the FIXED d² = 4096 cell domain (partials are
    * bounded regardless of corpus size); the iterations run on one
    * assembled row. At 100 TB the same plan holds — d² cells is the
    * only state. */
  /** Embedding dimensionality shared by the PCA family. */
  private val PcaD = 64

  /** Power-iteration count shared by llm_embed_pca and
    * llm_embed_pca_topk (the component-1 rows must stay bit-equal —
    * NewOps15Spec pins it). 16, up from r14's 8: the deflation chain
    * amplifies under-convergence — with near-tied eigenvalues an
    * 8-iteration Rayleigh quotient could land BELOW the next
    * component's, inverting the reported spectrum (observed at
    * sf0.001: 0.0260 then 0.0271). */
  private[graft] val PcaIters = 16

  /** The quantized 64×64 covariance as ONE assembled row (cm = row-major
    * DOUBLE array, n_vecs) — shared by llm_embed_pca and
    * llm_embed_pca_topk. Sufficient statistics quantize per element to
    * exact BIGINTs before the fold (see llm_embed_pca Scaladoc), so both
    * engines iterate the identical matrix. */
  private[graft] def pcaCovFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val D = PcaD
    val e = Tables.embeddings(s, dir)
      .filter($"embedding".isNotNull).select($"embedding")
    // One scan, zero joins: each row contributes its quantized outer
    // product + mean terms as ONE array<long> (PcaQuantGram), folded
    // map-side by LongVecSum — sums of exact BIGINTs are association-free,
    // so this equals the r15 posexplode²-self-join form bit-for-bit
    // (PcaParitySpec pins it; pcaCovFrameJoinForm below is the witness).
    // Plan: Scan → Project → partial/final ObjectHashAggregate (one 1-row
    // exchange) vs r15's 3 scans + 2 shuffled joins + N·D² generated rows.
    val sums = e
      .select(VectorFunctions.pcaQuantGram(s, $"embedding").as("q"))
      .agg(udaf(graft.functions.LongVecSum).apply($"q").as("sums"),
        count(lit(1)).as("n"))
      // Empty corpus ⇒ 0 rows, as the r15 join form produced (ADVICE
      // r16): the global aggregate otherwise emits one n=0 row whose
      // element_at reads are null and PcaPowerDeflate NPEs downstream.
      .filter($"n" > 0)
    sums.select(
      transform(sequence(lit(0), lit(D * D - 1)), idx => {
        val i = floor(idx.cast("double") / D).cast("int")
        val j = pmod(idx, lit(D))
        val num = $"n".cast("double") *
          (element_at($"sums", idx + 1).cast("double") / 1e4) -
          (element_at($"sums", lit(D * D) + i + 1).cast("double") / 1e6) *
            (element_at($"sums", lit(D * D) + j + 1).cast("double") / 1e6)
        num / ($"n".cast("double") * $"n".cast("double"))
      }).as("cm"),
      $"n".as("n_vecs"))
  }

  /** The r15 posexplode²-self-join covariance — kept ONLY as the
    * bit-parity witness for [[pcaCovFrame]] (PcaParitySpec). */
  private[graft] def pcaCovFrameJoinForm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    val pairs = e
      .select(posexplode($"embedding").as(Seq("i", "xi")), $"vec_id")
      .join(e.hint("shuffle_hash"), "vec_id")
      .select($"i", posexplode($"embedding").as(Seq("j", "xj")), $"xi")
    // Quantize PER ELEMENT before the integer fold (the zipf_slope/pmi
    // discipline): floor(sum(double)) sums in engine-dependent order and
    // can land one quantum apart at a floor boundary; summing the
    // floored BIGINTs is exact and association-free on both engines.
    val gram = pairs
      .groupBy($"i", $"j")
      .agg(sum(floor($"xi".cast("double") * $"xj".cast("double") * 1e4)
        .cast("long")).as("sq"))
    val means = e
      .select(posexplode($"embedding").as(Seq("i", "xi")))
      .groupBy($"i")
      .agg(sum(floor($"xi".cast("double") * 1e6).cast("long")).as("sm"),
        count(lit(1)).as("n"))
    gram
      .join(means.select($"i", $"sm".as("smi"), $"n").hint("shuffle_hash"), "i")
      .join(means.select($"i".as("j"), $"sm".as("smj")).hint("shuffle_hash"), "j")
      .withColumn("c",
        ($"n".cast("double") * ($"sq".cast("double") / 1e4)
          - ($"smi".cast("double") / 1e6) * ($"smj".cast("double") / 1e6))
          / ($"n".cast("double") * $"n".cast("double")))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct($"i", $"j", $"c"))),
        x => x.getField("c")).as("cm"),
        first($"n").as("n_vecs"))
  }

  /** One matvec of the row-major `cm` column against `v` — j folds in
    * index order on both engines (the determinism contract). */
  private def pcaMatvec(v: Column): Column = {
    val D = PcaD
    transform(sequence(lit(0), lit(D - 1)), i =>
      aggregate(zip_with(
        slice(col("cm"), i * lit(D) + lit(1), lit(D)), v,
        (a, b) => a * b), lit(0.0), (acc, x) => acc + x))
  }

  private def pcaNorm(v: Column): Column =
    sqrt(aggregate(transform(v, x => x * x), lit(0.0), (a, x) => a + x))

  private def pcaV0: Column =
    array((0 until PcaD).map(_ => lit(1.0 / math.sqrt(PcaD.toDouble))): _*)

  val embedPca: GraftQuery = GraftQuery(
    "llm_embed_pca",
    (s, dir) => {
      import s.implicits._
      val D = PcaD
      // Iterations run inside ONE native expression over the assembled
      // 1-row covariance (PcaPowerDeflate — bit-equal to the r15 HOF fold
      // tower by PcaParitySpec): the r15 plan carried 16 nested matvec
      // Projects that Catalyst re-analyzed every run (~2 s of driver time
      // per invocation at ANY scale factor).
      pcaCovFrame(s, dir)
        .withColumn("c0", element_at(
          VectorFunctions.pcaPowerDeflate(s, $"cm", PcaIters, 1), 1))
        .withColumn("tr",
          aggregate(transform(sequence(lit(0), lit(D - 1)),
            i => element_at($"cm", i * lit(D + 1) + lit(1))),
            lit(0.0), (acc, x) => acc + x))
        .select($"n_vecs",
          GraftQuery.roundNorm($"c0.lam", 6).as("eig1"),
          GraftQuery.roundNorm($"c0.lam" / $"tr", 6).as("var_share"),
          GraftQuery.roundNorm(element_at($"c0.v", 1) * $"c0.sgn", 4).as("v1"),
          GraftQuery.roundNorm(element_at($"c0.v", 2) * $"c0.sgn", 4).as("v2"),
          GraftQuery.roundNorm(element_at($"c0.v", 3) * $"c0.sgn", 4).as("v3"),
          GraftQuery.roundNorm(element_at($"c0.v", 4) * $"c0.sgn", 4).as("v4"))
    },
    Some {
      val D = 64
      // one unrolled power-iteration step: v_k from v_{k-1}
      def step(k: Int): String = {
        val prev = if (k == 1) "v0" else s"v${k - 1}"
        s"""p$k AS (
              SELECT cm, n_vecs, tr,
                     list_transform(range(1, ${D + 1}), i ->
                       list_sum(list_transform(range(1, ${D + 1}), j ->
                         cm[(i - 1) * $D + j] * v[j]))) AS vr
              FROM $prev),
            v$k AS (
              SELECT cm, n_vecs, tr,
                     list_transform(vr, x ->
                       x / sqrt(list_sum(list_transform(vr, y -> y * y)))) AS v
              FROM p$k)"""
      }
      s"""WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          cells AS (
            SELECT a.dim - 1 AS i, b.dim - 1 AS j,
                   sum(CAST(floor(a.x * b.x * 1e4) AS BIGINT)) AS sq
            FROM (SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e) a
            JOIN (SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e) b
              USING (vec_id)
            GROUP BY 1, 2),
          m AS (
            SELECT dim - 1 AS i,
                   sum(CAST(floor(x * 1e6) AS BIGINT)) AS sm,
                   count(*) AS n
            FROM (SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e)
            GROUP BY 1),
          cov AS (
            SELECT c.i, c.j,
                   (CAST(mi.n AS DOUBLE) * (CAST(c.sq AS DOUBLE) / 1e4)
                    - (CAST(mi.sm AS DOUBLE) / 1e6) * (CAST(mj.sm AS DOUBLE) / 1e6))
                     / (CAST(mi.n AS DOUBLE) * mi.n) AS c,
                   mi.n AS n
            FROM cells c
            JOIN m mi ON c.i = mi.i
            JOIN m mj ON c.j = mj.i),
          asm AS (
            SELECT list(c ORDER BY i, j) AS cm,
                   CAST(max(n) AS BIGINT) AS n_vecs
            FROM cov),
          trc AS (
            SELECT cm, n_vecs,
                   list_sum(list_transform(range(1, ${D + 1}),
                     i -> cm[(i - 1) * $D + i])) AS tr
            FROM asm),
          v0 AS (
            SELECT cm, n_vecs, tr,
                   list_transform(range(1, ${D + 1}),
                     i -> 1.0 / sqrt(${D}.0)) AS v
            FROM trc),
          ${(1 to PcaIters).map(step).mkString(",\n          ")},
          fin AS (
            SELECT n_vecs, tr, cm, v,
                   list_sum(list_transform(range(1, ${D + 1}), i ->
                     v[i] * list_sum(list_transform(range(1, ${D + 1}), j ->
                       cm[(i - 1) * $D + j] * v[j])))) AS lam,
                   list_max(list_transform(v, x -> abs(x))) AS mx
            FROM v$PcaIters),
          sg AS (
            SELECT n_vecs, tr, v, lam,
                   CASE WHEN list_filter(v, x -> abs(x) = mx)[1] < 0.0
                        THEN -1.0 ELSE 1.0 END AS sgn
            FROM fin)
          SELECT n_vecs,
                 (round(lam, 6) + 0.0) AS eig1,
                 (round(lam / tr, 6) + 0.0) AS var_share,
                 (round(v[1] * sgn, 4) + 0.0) AS v1,
                 (round(v[2] * sgn, 4) + 0.0) AS v2,
                 (round(v[3] * sgn, 4) + 0.0) AS v3,
                 (round(v[4] * sgn, 4) + 0.0) AS v4
          FROM sg"""
    }
  )

  /** TOP-K EMBEDDING PCA (k = 4) via Hotelling DEFLATION — the actual
    * input to whitening / dimension-pruning decisions (one direction
    * says "is the space collapsing"; the top-4 spectrum says how much
    * structure survives a cut). After each component converges, the
    * matrix deflates element-wise: cm ← cm − λ·v·vᵀ, which zeroes the
    * found direction exactly, so the next power iteration converges to
    * the next eigenpair; var shares report against the ORIGINAL trace.
    *
    * Determinism: identical to llm_embed_pca — both engines iterate the
    * IDENTICAL quantized-BIGINT covariance, every matvec/normalizer/
    * deflation is the same IEEE expression in the same fold order, so
    * the doubles stay bit-equal through all 4 × 8 iterations; signs pin
    * per component at the max-|v| element.
    *
    * Scale shape: unchanged from llm_embed_pca — ONE d²-domain
    * aggregate over the corpus, then all 32 iterations + 3 deflations
    * run on a 1-row frame (localCheckpointed per component so the
    * expression tower resets — state is always the d² matrix + k
    * vectors, at any corpus size). */
  /** The r15 HOF fold-tower deflation chain — kept ONLY as the bit-parity
    * witness for [[graft.functions.PcaPowerDeflate]] (PcaParitySpec):
    * given a (cm, …) covariance frame, appends lam\$c/sgn\$c/v\$c for
    * components 1..k exactly as the r15 llm_embed_pca_topk computed them
    * (16 in-plan power steps per component, element-wise deflation,
    * 1-row checkpoint per component to bound the expression tower). */
  private[graft] def pcaDeflateFoldForm(cov: DataFrame, k: Int): DataFrame = {
    import cov.sparkSession.implicits._
    val D = PcaD
    var df = cov.localCheckpoint()
    for (c <- 1 to k) {
      var it = df.withColumn("v", pcaV0)
      for (_ <- 1 to PcaIters) {
        it = it.withColumn("vr", pcaMatvec($"v"))
          .withColumn("v", transform($"vr", x => x / pcaNorm($"vr")))
          .drop("vr")
      }
      df = it
        .withColumn(s"lam$c",
          aggregate(zip_with($"v", pcaMatvec($"v"), (a, b) => a * b),
            lit(0.0), (acc, x) => acc + x))
        .withColumn("mx", array_max(transform($"v", x => abs(x))))
        .withColumn(s"sgn$c",
          when(element_at(filter($"v", x => abs(x) === $"mx"), 1) < 0.0,
            lit(-1.0)).otherwise(lit(1.0)))
        .withColumn(s"v$c", $"v")
        .withColumn("cm", expr(
          s"transform(sequence(0, ${D * D - 1}), i -> " +
            s"element_at(cm, i + 1) - lam$c * " +
            s"element_at(v$c, CAST(i div $D AS INT) + 1) * " +
            s"element_at(v$c, pmod(i, $D) + 1))"))
        .drop("v", "mx")
        .localCheckpoint()
    }
    df
  }

  val embedPcaTopk: GraftQuery = GraftQuery(
    "llm_embed_pca_topk",
    (s, dir) => {
      import s.implicits._
      val D = PcaD
      val K = 4
      // All 4 components' 16-step towers + deflations run inside ONE
      // native expression on the 1-row covariance (PcaPowerDeflate;
      // bit-equal to the r15 per-component checkpointed HOF chain by
      // PcaParitySpec) — the r15 plan paid 4 localCheckpoints plus 4
      // re-analyzed 16-Project towers per run (~8 s driver time at
      // sf0.001 where the data work is milliseconds).
      pcaCovFrame(s, dir)
        .withColumn("tr",
          aggregate(transform(sequence(lit(0), lit(D - 1)),
            i => element_at($"cm", i * lit(D + 1) + lit(1))),
            lit(0.0), (acc, x) => acc + x))
        .select($"n_vecs", $"tr",
          posexplode(VectorFunctions.pcaPowerDeflate(s, $"cm", PcaIters, K))
            .as(Seq("pos", "r")))
        .select(($"pos" + 1).cast("long").as("component"), $"n_vecs",
          graft.GraftQuery.roundNorm($"r.lam", 6).as("eig"),
          graft.GraftQuery.roundNorm($"r.lam" / $"tr", 6).as("var_share"),
          graft.GraftQuery.roundNorm(element_at($"r.v", 1) * $"r.sgn", 4).as("v1"),
          graft.GraftQuery.roundNorm(element_at($"r.v", 2) * $"r.sgn", 4).as("v2"),
          graft.GraftQuery.roundNorm(element_at($"r.v", 3) * $"r.sgn", 4).as("v3"),
          graft.GraftQuery.roundNorm(element_at($"r.v", 4) * $"r.sgn", 4).as("v4"))
        .orderBy($"component")
    },
    Some {
      val D = PcaD
      val K = 4
      def stepC(c: Int, k: Int): String = {
        val prev = if (k == 1) s"c${c}v0" else s"c${c}v${k - 1}"
        s"""c${c}p$k AS MATERIALIZED (
              SELECT cm, n_vecs, tr,
                     list_transform(range(1, ${D + 1}), i ->
                       list_sum(list_transform(range(1, ${D + 1}), j ->
                         cm[(i - 1) * $D + j] * v[j]))) AS vr
              FROM $prev),
            c${c}v$k AS MATERIALIZED (
              SELECT cm, n_vecs, tr,
                     list_transform(vr, x ->
                       x / sqrt(list_sum(list_transform(vr, y -> y * y)))) AS v
              FROM c${c}p$k)"""
      }
      def component(c: Int): String = {
        val base = if (c == 1) "trc" else s"c${c}base"
        val fin =
          s"""c${c}v0 AS (
                SELECT cm, n_vecs, tr,
                       list_transform(range(1, ${D + 1}),
                         i -> 1.0 / sqrt(${D}.0)) AS v
                FROM $base),
              ${(1 to PcaIters).map(k => stepC(c, k)).mkString(",\n              ")},
              c${c}fin AS MATERIALIZED (
                SELECT n_vecs, tr, cm, v,
                       list_sum(list_transform(range(1, ${D + 1}), i ->
                         v[i] * list_sum(list_transform(range(1, ${D + 1}), j ->
                           cm[(i - 1) * $D + j] * v[j])))) AS lam,
                       list_max(list_transform(v, x -> abs(x))) AS mx
                FROM c${c}v$PcaIters),
              c${c}sg AS MATERIALIZED (
                SELECT n_vecs, tr, cm, v, lam,
                       CASE WHEN list_filter(v, x -> abs(x) = mx)[1] < 0.0
                            THEN -1.0 ELSE 1.0 END AS sgn
                FROM c${c}fin)"""
        val next = if (c < K)
          s""",
              c${c + 1}base AS MATERIALIZED (
                SELECT list_transform(range(0, ${D * D}), i ->
                         cm[i + 1] - lam * v[(i // $D) + 1] * v[(i % $D) + 1])
                         AS cm,
                       n_vecs, tr
                FROM c${c}sg)"""
        else ""
        fin + next
      }
      val outRows = (1 to K).map { c =>
        s"""SELECT CAST($c AS BIGINT) AS component, n_vecs,
                   (round(lam, 6) + 0.0) AS eig,
                   (round(lam / tr, 6) + 0.0) AS var_share,
                   (round(v[1] * sgn, 4) + 0.0) AS v1,
                   (round(v[2] * sgn, 4) + 0.0) AS v2,
                   (round(v[3] * sgn, 4) + 0.0) AS v3,
                   (round(v[4] * sgn, 4) + 0.0) AS v4
            FROM c${c}sg"""
      }.mkString("\n            UNION ALL\n            ")
      s"""WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          cells AS (
            SELECT a.dim - 1 AS i, b.dim - 1 AS j,
                   sum(CAST(floor(a.x * b.x * 1e4) AS BIGINT)) AS sq
            FROM (SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e) a
            JOIN (SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e) b
              USING (vec_id)
            GROUP BY 1, 2),
          m AS (
            SELECT dim - 1 AS i,
                   sum(CAST(floor(x * 1e6) AS BIGINT)) AS sm,
                   count(*) AS n
            FROM (SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e)
            GROUP BY 1),
          cov AS (
            SELECT c.i, c.j,
                   (CAST(mi.n AS DOUBLE) * (CAST(c.sq AS DOUBLE) / 1e4)
                    - (CAST(mi.sm AS DOUBLE) / 1e6) * (CAST(mj.sm AS DOUBLE) / 1e6))
                     / (CAST(mi.n AS DOUBLE) * mi.n) AS c,
                   mi.n AS n
            FROM cells c
            JOIN m mi ON c.i = mi.i
            JOIN m mj ON c.j = mj.i),
          asm AS (
            SELECT list(c ORDER BY i, j) AS cm,
                   CAST(max(n) AS BIGINT) AS n_vecs
            FROM cov),
          trc AS MATERIALIZED (
            SELECT cm, n_vecs,
                   list_sum(list_transform(range(1, ${D + 1}),
                     i -> cm[(i - 1) * $D + i])) AS tr
            FROM asm),
          ${(1 to K).map(component).mkString(",\n          ")}
          SELECT component, n_vecs, eig, var_share, v1, v2, v3, v4 FROM (
            $outRows)
          ORDER BY component"""
    }
  )

  def all: Seq[GraftQuery] =
    Seq(bruteTopK, rangeSearch, rangeIvf, lshTopK, ivfTopK, ivf2TopK,
      ivfPersistedTopK, embedStats, pqTopK, indexAppendTopK, indexDeleteTopK,
      ivfPqTopK,
      mmrDiversify, filteredTopK, filteredPersistedTopK, knnJoin,
      embedQuantize, embedDrift, embedOutliers, embedPca, embedPcaTopk)
}
