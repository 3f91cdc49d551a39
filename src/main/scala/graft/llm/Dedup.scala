package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.sources.Tables
import graft.functions.{TextFunctions => TF, VectorFunctions}

/** Deduplication operators for LLM training-data pipelines:
  * exact (hash-groupBy), n-gram Jaccard (prefix-filtered all-pairs),
  * MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design, common to all near-dup paths:
  *  1. reduce each document to a compact signature (hash set / minhash /
  *     simhash / vector) — map-side, codegen'd, no shuffle;
  *  2. generate candidate pairs via an EQUI-join on a bucketing key
  *     (prefix hash, LSH band, simhash chunk) — this is the only shuffle,
  *     and it shuffles signatures, not documents;
  *  3. verify candidates exactly, joining text signatures back by id.
  * Nothing ever does a quadratic all-pairs shuffle; the only cross join in
  * this file broadcasts a vector table measured in MBs.
  */
object Dedup {

  /** Jaccard threshold for near-dup verification (fixture dups sit ≈0.98;
    * background < 0.35 — see SURVEY probe). */
  val Tau = 0.6

  /** doc_id, shingles (distinct hashed 3-gram set), n (set size).
    * Cached: every dedup query reuses this table 2–3 times (candidate
    * generation + both sides of the verification join); at cluster scale
    * you'd persist the signature table for exactly the same reason. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    shingleOf(s, Tables.documents(s, dir)).cache()

  /** (doc_id, shingles, n) from any (doc_id, text) frame — the signature
    * build shared by the full-corpus path, the incremental batch path, and
    * the spec fixtures. Tokens are materialized as their own projection
    * first: referencing `split(text)` directly inside the shingle lambda
    * would re-evaluate the split for every element access (~300 splits/doc).
    * One native expression per row (SortedHashedShingles): token-hash,
    * shingle-combine, sort, dedupe in tight primitive loops. Sorted at
    * build: the prefix stage slices the sorted set directly and
    * verification runs the codegen merge-scan intersect — one sort, two
    * consumers. */
  private[graft] def shingleOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs
      .select($"doc_id", TF.tokens($"text").as("toks"))
      .select($"doc_id",
        graft.functions.ArrayFunctions.sortedShingles(s, $"toks", 3).as("shingles"))
      .withColumn("n", size($"shingles"))
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs.
    * The shingle table joins back by id WITHOUT a broadcast: at 100 TB the
    * signature table is itself TBs, so broadcasting it fails outright. A
    * shuffle-hash join on the id key is co-partitioned with the candidate
    * set (which is small — bounded by true-dups × bucket collisions) and
    * never materializes either side whole on one node. */
  private def verifyPairs(s: SparkSession, dir: String, cands: DataFrame): DataFrame =
    verifyPairsOf(s, shingled(s, dir), cands, merge = false)

  private def verifyPairsOf(s: SparkSession, sh: DataFrame, cands: DataFrame,
                            merge: Boolean): DataFrame = {
    // shuffle_hash for the ad-hoc table; merge (SMJ) when sh is a persisted
    // bucketed layout, whose bucket distribution satisfies the join's
    // requirement at read time — zero exchange on the signature side.
    val strategy = if (merge) "merge" else "shuffle_hash"
    import s.implicits._
    verifyPairsSides(s, sh, strategy, sh, strategy, cands)
      .orderBy($"id_a", $"id_b")
  }

  /** Verification with per-side signature tables and join strategies: the
    * incremental path looks up id_a in the persisted corpus layout (SMJ,
    * exchange-free on the bucketed side) and id_b in the fresh batch table
    * (shuffle_hash) — sides differ, so the plain verifyPairsOf can't. */
  private[graft] def verifyPairsSides(s: SparkSession,
                               shA: DataFrame, strategyA: String,
                               shB: DataFrame, strategyB: String,
                               cands: DataFrame): DataFrame = {
    import s.implicits._
    cands
      .join(shA.select($"doc_id".as("id_a"), $"shingles".as("sh_a"), $"n".as("n_a"))
               .hint(strategyA), "id_a")
      .join(shB.select($"doc_id".as("id_b"), $"shingles".as("sh_b"), $"n".as("n_b"))
               .hint(strategyB), "id_b")
      .filter(TF.sizeRatioPass($"n_a", $"n_b", Tau))
      // |A∩B| via the codegen merge scan over the pre-sorted sets (no
      // intersection array ever materializes), and |A∪B| = |A|+|B|-|A∩B|
      // for distinct sets — one primitive pass per candidate pair.
      .withColumn("isz",
        graft.functions.ArrayFunctions.sortedIntersectSize(s, $"sh_a", $"sh_b")
          .cast("double"))
      .withColumn("jaccard",
        round($"isz" / ($"n_a".cast("double") + $"n_b".cast("double") - $"isz"), 4))
      .filter($"jaccard" >= Tau)
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** DuckDB ground truth: exact 3-gram Jaccard via posting-list
    * intersection COUNTING (round-10 rewrite, verdict item 3): instead of
    * the quadratic all-pairs list_intersect (N²/2 list ops — the
    * closure-class sf0.1 timeout), the shared-gram join itself counts
    * |A∩B| per pair (group by pair over posting matches — Σ C(df,2)
    * rows, df≤25 on the fixture), and |A∪B| = n_a + n_b − c. A pair with
    * J ≥ τ > 0 shares ≥ 1 gram, so the candidate set is lossless, and
    * the division operands are the IDENTICAL integers the list form
    * produced — bit-identical doubles, same rounding. Measured at sf0.1:
    * 104 s → 1.9 s, byte-identical output. */
  private val jaccardOracle: String =
    """WITH sh AS (
         SELECT doc_id,
                list_distinct(list_transform(range(1, greatest(len(w) - 1, 1)),
                              i -> array_to_string(w[i:i+2], ' '))) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
       post AS (SELECT doc_id, unnest(s) AS g FROM sh),
       sz AS (SELECT doc_id, len(s) AS n FROM sh),
       inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
                 FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT id_a, id_b,
              (round(CAST(c AS DOUBLE)
                    / CAST(sa.n + sb.n - c AS DOUBLE), 4) + 0.0) AS jaccard
       FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       WHERE CAST(c AS DOUBLE)
             / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.6
       ORDER BY id_a, id_b"""

  /** Exact dedup by content hash. The corpus is unioned with itself so the
    * dedup actually collapses something; grouping is on the 256-bit digest,
    * not the text — at 100 TB the shuffle carries 32-byte keys, not
    * documents. */
  val exact: GraftQuery = GraftQuery(
    "llm_dedup_exact",
    (s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir).select($"doc_id", $"text")
      d.union(d)
        .groupBy(sha2($"text", 256).as("content_sha"))
        .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
        .select($"keeper_id", $"n_copies")
        .orderBy($"keeper_id")
    },
    Some("""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
            FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
            GROUP BY text ORDER BY keeper_id""")
  )

  /** N-gram Jaccard near-dup via lossless prefix filtering (All-Pairs /
    * PPJoin family): a pair with J >= tau must share a shingle inside the
    * first floor((1-tau)|A|)+1 elements of each doc's shingle set under a
    * consistent global order — so the candidate join is an equi-join on
    * prefix-shingle hash. The global order is plain hash order — see
    * `prefixesOf`. */
  val ngramJaccard: GraftQuery = GraftQuery(
    "llm_dedup_ngram_jaccard",
    (s, dir) => jaccardPipelineOver(s, shingled(s, dir), merge = false),
    Some(jaccardOracle)
  )

  /** PPJoin prefix table: (doc_id, n, pos, hv) — the first
    * floor((1-tau)·n)+1 shingles of each doc under a consistent GLOBAL
    * total order, which is what makes prefix filtering lossless. The order
    * is plain hash order — free, because `shingled` builds the sets
    * pre-sorted, so the prefix is a `slice` in the scan projection.
    * Rarest-first (document-frequency) order was measured to prune only
    * ~1.5× on this corpus for two extra shuffles, so it is not built
    * (SCALE.md §PPJoin). */
  private[graft] def prefixesOf(s: SparkSession, sh: DataFrame): DataFrame = {
    import s.implicits._
    val plen = (floor(lit(1.0 - Tau) * $"n") + 1).cast("int")
    sh.select($"doc_id", $"n",
      posexplode(slice($"shingles", lit(1), plen)).as(Seq("pos", "hv")))
  }

  /** The llm_dedup_ngram_jaccard dataflow over a (doc_id, shingles, n)
    * signature table — also the layout-reuse entry point: `llm_dedup_bucketed` passes the
    * persisted bucketed table and `merge = true` so the verification joins
    * plan as SMJ with the bucketed side exchange-free. When `prefixTable`
    * is given (the persisted hv-bucketed layout), the candidate self-join
    * reads BOTH sides co-partitioned on `hv` — zero exchange — instead of
    * deriving and shuffling prefixes per run. */
  private def jaccardPipelineOver(s: SparkSession, sh: DataFrame,
                                  merge: Boolean,
                                  prefixTable: Option[DataFrame] = None): DataFrame = {
    val pt = prefixTable.getOrElse(
      prefixesOf(s, sh)
        .cache()) // both sides of the self-join below
    val cands = candidatesBetween(s, pt, pt)
    verifyPairsOf(s, sh, cands, merge)
  }

  /** PPJoin candidate generation between two prefix tables (self-join when
    * `pa eq pb`). Both PPJoin bounds ride IN the join condition, pruning
    * pairs before the distinct shuffle: (1) size-ratio feasibility, (2) the
    * positional suffix bound — a true-positive pair's FIRST shared prefix
    * element always satisfies least(n−pos) ≥ τ/(1+τ)·(na+nb), so filtering
    * per matched element is lossless after distinct(). Shuffle-hash on the
    * equi key, never a broadcast (auto-broadcast at test SF would hide a
    * plan that fails at 100 TB). A hot `hv` partition on Zipfian corpora is
    * left to AQE skew-split. */
  private[graft] def candidatesBetween(s: SparkSession,
                                       pa: DataFrame, pb: DataFrame): DataFrame = {
    import s.implicits._
    val candReq = lit(Tau / (1.0 + Tau))
    val cond =
      $"a.hv" === $"b.hv" && $"a.doc_id" < $"b.doc_id" &&
        TF.sizeRatioPass($"a.n", $"b.n", Tau) &&
        least($"a.n" - $"a.pos", $"b.n" - $"b.pos").cast("double") >=
          candReq * ($"a.n" + $"b.n").cast("double")
    pa.as("a").join(pb.hint("shuffle_hash").as("b"), cond)
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .distinct()
  }

  /** N-gram Jaccard dedup over a PERSISTED bucketed signature layout —
    * the layout-reuse answer for recurring dedup at 100 TB: the shingle
    * table is written once bucketed by doc_id (8 buckets, sorted), and
    * every subsequent dedup run's verification joins read it co-located —
    * SMJ with ZERO exchange and zero sort on the signature side (the fat
    * side: shingle arrays dwarf the candidate id pairs). Same pair set and
    * oracle as llm_dedup_ngram_jaccard; the plan, not the answer, is the
    * point. Mirrors join_bucketed's persist/re-register convention. */
  /** The persisted bucketed signature table: written once per sf-dir,
    * re-registered (not rewritten) on later sessions. Shared by
    * `llm_dedup_bucketed` and `llm_dedup_cluster`. */
  private[graft] def bucketedSignatures(s: SparkSession, dir: String): DataFrame = {
    Layouts.table(s, "signatures", dir,
        Layouts.fingerprint(Tables.documents(s, dir), "doc_id", "text"),
        8, Seq("doc_id"))(shingled(s, dir))
  }

  val bucketed: GraftQuery = GraftQuery(
    "llm_dedup_bucketed",
    (s, dir) =>
      jaccardPipelineOver(s, bucketedSignatures(s, dir), merge = true),
    Some(jaccardOracle)
  )

  /** The persisted corpus PREFIX table, bucketed by `hv` — the second half
    * of the incremental-dedup layout (round-4 verdict item 4). The candidate
    * join between corpus prefixes and batch prefixes is an equi-join on
    * `hv`, so persisting corpus prefixes CLUSTERED BY hv lets every
    * incremental run read the corpus side of that join EXCHANGE-FREE: the
    * bucketed scan's HashPartitioning(hv, 8) satisfies the join's clustered
    * distribution, and only the
    * O(batch) side shuffles to the bucket count. Derived once from the
    * persisted signature layout (slice + posexplode, no shuffle);
    * re-registered, not rewritten, on later sessions — same convention as
    * bucketedSignatures. The pre-write repartition on `hv` aligns rows to
    * their bucket so the file count is exactly the bucket count, not
    * tasks × buckets (the round-3 ingest_partition_bucket fan-out lesson). */
  private[graft] def bucketedPrefixes(s: SparkSession, dir: String): DataFrame = {
    Layouts.table(s, "prefixes", dir,
        Layouts.fingerprint(Tables.documents(s, dir), "doc_id", "text"),
        8, Seq("hv")) {
      import s.implicits._
      prefixesOf(s, bucketedSignatures(s, dir)).repartition(8, $"hv")
    }
  }

  /** Containment (near-subset) threshold and the snippet fixture: Jaccard
    * misses a short doc fully CONTAINED in a long one (the union term
    * swamps the intersection), yet quote-farms and scraped excerpts are
    * exactly that shape — so containment |A∩B| / min(|A|,|B|) is its own
    * dedup signal. The corpus carries no natural subsets, so the query
    * constructs them the way llm_dedup_exact constructs its duplicates:
    * a snippet view (every 20th doc truncated to its first half) unions
    * with the corpus and must light up at containment ≈ 1 while staying
    * far below the Jaccard τ. */
  private[graft] val ContainTau = 0.9
  private[graft] val SnippetIdOffset = 10000000L

  /** Near-subset dedup via an inverted gram index. Candidates come from a
    * posting-list equi-join on the shingle hash — NOT the Jaccard prefix
    * filter, whose bound assumes symmetric similarity and would drop
    * small-in-large pairs (the pairs this operator exists to find).
    *
    * Scale shape: the posting join shuffles (gram-hash, doc_id) pairs and
    * its output is Σ df² over grams — bounded by the df distribution, not
    * |corpus|²; on web corpora the knob is a df cap (grams above it leave
    * candidate generation — recall falls only for pairs sharing solely
    * boilerplate grams, which containment should not fire on anyway).
    * Verification is the same codegen merge-scan intersect as the Jaccard
    * family, shuffle_hash joined by id — signatures are never broadcast
    * (O(N) table). */
  val containment: GraftQuery = GraftQuery(
    "llm_dedup_containment",
    (s, dir) => containmentPipeline(s, dir, dfCap = None),
    Some(containmentOracle(dfCap = None))
  )

  /** Default document-frequency cap for the capped variant: grams seen in
    * more than this many documents leave candidate generation. 8 keeps the
    * fixture's result identical to the uncapped closure (DedupSpec sweeps
    * the cap and records where recall starts to fall) while bounding the
    * posting join's output by cap · |postings| — LINEAR in corpus size. */
  private[graft] val ContainDfCap = 8

  /** The web-scale form of `llm_dedup_containment`: identical semantics,
    * but candidate generation drops grams with document frequency > cap.
    * Uncapped, the posting self-join's output is Σ df² over grams — fine
    * when df is bounded (this fixture), quadratic in the worst case when a
    * boilerplate gram lands in millions of documents. With the cap, every
    * surviving gram contributes ≤ cap·df pairs, so the join's output is
    * ≤ cap · |postings| — the knob the uncapped scaladoc names, now
    * measured: DedupSpec sweeps cap ∈ {1..8} against the closure and the
    * only recall losses are pairs sharing solely high-df grams, which sit
    * far below τ anyway (that is WHY a true near-subset pair must share a
    * rare gram: at containment ≥ 0.9, most of the small doc's gram set
    * intersects the big one's, and a doc's grams are mostly rare).
    *
    * Dataflow note: the df filter is a semi-join of the posting list
    * against the ≤-cap gram set, hash-partitioned on the gram key — the
    * SAME key the candidate self-join uses, so the semi output's
    * partitioning carries straight into the self-join (no re-shuffle of
    * the posting list). The rare-gram set is cached: both self-join sides
    * consume it, and without the cache each would re-run the df
    * aggregation (at 100 TB it would be persisted next to the signature
    * layout — it is corpus-derived state on the candidate-generation hot
    * path, exactly like the prefix table). */
  val containmentCapped: GraftQuery = GraftQuery(
    "llm_dedup_containment_capped",
    (s, dir) => containmentPipeline(s, dir, dfCap = Some(ContainDfCap)),
    Some(containmentOracle(dfCap = Some(ContainDfCap)))
  )

  /** Shared dataflow for the containment family — `dfCap` gates candidate
    * generation only; verification always runs over full signatures. */
  private[graft] def containmentPipeline(s: SparkSession, dir: String,
                                         dfCap: Option[Int]): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    val snippets = docs.filter($"doc_id" % 20 === 3)
      .select(($"doc_id" + SnippetIdOffset).as("doc_id"),
        expr("""array_join(slice(split(text, ' '), 1,
                greatest(CAST(ceil(size(split(text, ' ')) / 2.0) AS INT), 2)), ' ')""")
          .as("text"))
    // Base-corpus signatures come from the PERSISTED bucketed layout (the
    // round-8 verdict's top item): re-shingling the full corpus per call
    // was the cost that drove this query's only measured regression. Only
    // the snippet view — 1/20th of the docs at half length — is shingled
    // live; its signature build is O(|corpus|/40) and the layout side is a
    // plain bucketed scan. Signature semantics are identical by
    // construction: the layout IS `shingleOf(documents)` materialized.
    val sh = bucketedSignatures(s, dir)
      .select($"doc_id", $"shingles", $"n")
      .unionAll(shingleOf(s, snippets))
      .cache()
    val posting = sh.select($"doc_id", explode($"shingles").as("gh"))
    val capped = dfCap match {
      case Some(cap) =>
        val rareGrams = posting.groupBy($"gh")
          .agg(count(lit(1)).as("df")).filter($"df" <= cap).select($"gh")
          .cache()
        posting.join(rareGrams.hint("shuffle_hash"), Seq("gh"), "left_semi")
      case None => posting
    }
    val cands = capped.as("a")
      .join(capped.hint("shuffle_hash").as("b"),
        $"a.gh" === $"b.gh" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .distinct()
    cands
      .join(sh.select($"doc_id".as("id_a"), $"shingles".as("sh_a"), $"n".as("n_a"))
              .hint("shuffle_hash"), "id_a")
      .join(sh.select($"doc_id".as("id_b"), $"shingles".as("sh_b"), $"n".as("n_b"))
              .hint("shuffle_hash"), "id_b")
      .withColumn("isz",
        graft.functions.ArrayFunctions.sortedIntersectSize(s, $"sh_a", $"sh_b")
          .cast("double"))
      .withColumn("containment", $"isz" / least($"n_a", $"n_b").cast("double"))
      .filter($"containment" >= ContainTau)
      .select($"id_a", $"id_b", round($"containment", 4).as("containment"))
      .orderBy($"id_a", $"id_b")
  }

  /** DuckDB side of the containment family. Uncapped: the quadratic
    * closure (ground truth). Capped: candidates restricted to pairs
    * sharing a gram with df ≤ cap — the same semantics the Spark side
    * implements, over string grams instead of hashes. */
  private def containmentOracle(dfCap: Option[Int]): String = {
    val shared = s"""WITH snip AS (
               SELECT doc_id + $SnippetIdOffset AS doc_id,
                      array_to_string(w[1:greatest(CAST(ceil(len(w) / 2.0) AS INT), 2)], ' ') AS text
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
               WHERE doc_id % 20 = 3),
             corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id, text FROM snip),
             sh AS (
               SELECT doc_id,
                      list_distinct(list_transform(range(1, greatest(len(w) - 1, 1)),
                        i -> array_to_string(w[i:i+2], ' '))) AS s
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus))"""
    // Posting-count form (round-10, verdict item 3): the shared-gram join
    // counts |A∩B| per pair directly — no per-pair list_intersect, no
    // all-pairs join — and df rides on every posting row so the capped
    // variant is the SAME body with the any-rare-gram filter engaged.
    // Operand integers are identical to the list form: bit-identical
    // containment, same rounding.
    val rareFilter = dfCap.map(_ => "WHERE any_rare").getOrElse("")
    val capVal = dfCap.getOrElse(0)
    s"""$shared,
         posting AS (SELECT doc_id, unnest(s) AS gh FROM sh),
         dft AS (SELECT gh, count(*) AS df FROM posting GROUP BY gh),
         p2 AS (SELECT p.doc_id, p.gh, d.df <= $capVal AS rare
                FROM posting p JOIN dft d USING (gh)),
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          count(*) AS c, bool_or(a.rare) AS any_rare
                   FROM p2 a JOIN p2 b ON a.gh = b.gh AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b,
                (round(CAST(c AS DOUBLE)
                      / least(sa.n, sb.n), 4) + 0.0) AS containment
         FROM (SELECT id_a, id_b, c FROM inter $rareFilter) i
         JOIN sz sa ON sa.doc_id = i.id_a
         JOIN sz sb ON sb.doc_id = i.id_b
         WHERE CAST(c AS DOUBLE)
               / least(sa.n, sb.n) >= $ContainTau
         ORDER BY id_a, id_b"""
  }

  /** Incremental-batch near-dup — THE recurring dedup operation at 100 TB:
    * a new batch of documents arrives (post-watermark), the corpus is
    * already shingled and persisted in the bucketed signature layout, and
    * the question is "which new docs duplicate the corpus or each other".
    * Nothing corpus-sized is ever recomputed:
    *  - only the BATCH is shingled — the recurring signature cost is
    *    O(batch), never O(corpus);
    *  - corpus prefixes read the persisted hv-bucketed prefix layout
    *    (bucketedPrefixes), so the candidate join's corpus side moves
    *    through ZERO exchange — only the O(batch) prefix side shuffles;
    *  - verification looks up id_a in the persisted layout (SMJ — the
    *    bucket distribution means the fat signature side moves through
    *    ZERO exchange) and id_b in the fresh batch table (shuffle_hash);
    *  - within-batch pairs run the ordinary self-join path over the small
    *    batch table.
    * Output = all verified pairs whose NEWER doc is post-watermark (cross
    * corpus→batch pairs ∪ batch-internal pairs), same schema and τ as
    * llm_dedup_ngram_jaccard. Watermark = midpoint doc_id, derived, so the
    * query is scale-factor-independent (cf. ingest_incremental). */
  val incremental: GraftQuery = GraftQuery(
    "llm_dedup_incremental",
    (s, dir) => incrementalPipeline(s, dir),
    Some("""WITH wm AS (SELECT CAST(floor(max(doc_id) / 2.0) AS BIGINT) AS w
                        FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, greatest(len(w) - 1, 1)),
                                   i -> array_to_string(w[i:i+2], ' '))) AS s
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
            post AS (SELECT doc_id, unnest(s) AS g FROM sh),
            sz AS (SELECT doc_id, len(s) AS n FROM sh),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
                      FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT id_a, id_b,
                   (round(CAST(c AS DOUBLE)
                         / CAST(sa.n + sb.n - c AS DOUBLE), 4) + 0.0) AS jaccard
            FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
            WHERE id_b > (SELECT w FROM wm)
              AND CAST(c AS DOUBLE)
                  / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.6
            ORDER BY id_a, id_b"""),
    // Plan gates audit the UN-memoized pipeline (ADVICE r15): the served
    // form is a SessionMemo checkpoint scan after the first build.
    auditPlans = Some((s, dir) =>
      Seq(incrementalPipelineBuild(s, dir)))
  )

  private[graft] def incrementalPipeline(s: SparkSession, dir: String,
                                         persistedPrefixes: Boolean = true): DataFrame =
    // Session memo (r15): llm_dedup_incremental's graded output IS this
    // pair set, and llm_dedup_cluster_incremental re-derives the same
    // set as its edge input ("the single most expensive subtree") —
    // build + checkpoint once per session, read twice (the pair sink a
    // real incremental run would have just written).
    graft.SessionMemo.frame(s,
        s"incPairs|$persistedPrefixes|$dir") {
      incrementalPipelineBuild(s, dir, persistedPrefixes)
        .localCheckpoint()
    }

  /** The un-memoized pipeline plan — DedupSpec pins its exchange counts
    * (persisted vs derived prefixes), which the session
    * memo's checkpoint scan would otherwise hide. */
  private[graft] def incrementalPipelineBuild(s: SparkSession, dir: String,
                                              persistedPrefixes: Boolean = true): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val wm = docs.agg(floor(max($"doc_id") / 2.0).cast("long").as("wm"))
    // Shingle ONLY the new batch. The broadcast watermark join keeps the
    // split declarative (no driver collect) and pushes as a runtime filter.
    val batchSh = shingleOf(s,
        docs.join(broadcast(wm), $"doc_id" > $"wm").select($"doc_id", $"text"))
      .cache() // prefix build + both verification sides reuse it
    // The corpus side READS the persisted bucketed layout; the watermark
    // filter broadcasts over the scan, preserving the bucket distribution
    // (BNLJ keeps the streamed side's partitioning) for the SMJ below.
    val corpusSh = bucketedSignatures(s, dir)
      .join(broadcast(wm), $"doc_id" <= $"wm")
      .select($"doc_id", $"shingles", $"n")
    // Corpus prefixes: the persisted hv-bucketed layout, watermark-filtered
    // the same partitioning-preserving way (in production the layout only
    // holds already-ingested docs; the filter emulates that split). The
    // `persistedPrefixes = false` leg re-derives them from the signature
    // layout — kept so DedupSpec can pin pair-set parity and the exchange
    // saving between the two forms.
    val pCorpus =
      if (persistedPrefixes)
        bucketedPrefixes(s, dir).join(broadcast(wm), $"doc_id" <= $"wm")
          .select($"doc_id", $"n", $"pos", $"hv")
      else prefixesOf(s, corpusSh)
    dedupIncrement(s, corpusSh, pCorpus, None, batchSh)
      .orderBy($"id_a", $"id_b")
  }

  /** One arrival-wave increment of incremental near-dup — the unit a
    * checkpointed streaming pipeline runs per micro-batch
    * (stream_dedup_incremental grades a deterministic 3-wave batch
    * emulation against llm_dedup_incremental's oracle; StreamingSpec
    * drives the real file-source + checkpoint + foreachBatch form).
    *
    * State model: `base`/`basePrefixes` are the IMMUTABLE persisted corpus
    * layouts — the signature side verifies by SMJ over the doc_id-bucketed
    * table and the candidate join reads the hv-bucketed prefix table, both
    * exchange-free every wave; `delta` is the accumulated signature table
    * of previously-arrived batch docs (None on the first wave — in
    * production, parquet appended per micro-batch, O(arrivals-so-far) and
    * disjoint from the base). Only the WAVE is ever shingled.
    *
    * The append-only id contract (every wave id exceeds every seen id —
    * the same monotone-watermark semantics ingest_incremental grades)
    * orients each qualifying pair as (seen, new) exactly once across
    * waves: candidatesBetween's a.doc_id < b.doc_id is exact for both
    * cross joins and dedups the within-wave self-join as usual. */
  private[graft] def dedupIncrement(s: SparkSession,
                                    base: DataFrame, basePrefixes: DataFrame,
                                    delta: Option[DataFrame],
                                    waveSh: DataFrame): DataFrame = {
    val pWave = prefixesOf(s, waveSh).cache()
    val baseCands = candidatesBetween(s, basePrefixes, pWave)
    val basePairs = verifyPairsSides(s, base, "merge",
      waveSh, "shuffle_hash", baseCands)
    val deltaPairs = delta.map { d =>
      // Delta prefixes re-derive by scan projection (slice + posexplode,
      // no shuffle); the delta stays O(batch arrivals), not O(corpus).
      val pd = prefixesOf(s, d)
      val cands = candidatesBetween(s, pd, pWave)
      verifyPairsSides(s, d, "shuffle_hash", waveSh, "shuffle_hash", cands)
    }
    val selfCands = candidatesBetween(s, pWave, pWave)
    val selfPairs = verifyPairsSides(s, waveSh, "shuffle_hash",
      waveSh, "shuffle_hash", selfCands)
    (Seq(basePairs) ++ deltaPairs :+ selfPairs).reduce(_.unionAll(_))
  }

  /** MinHash signature table: 128 permutations, computed row-level by the
    * native MinHashSignature expression — a pure function of the row's
    * shingle set, so the signature build is a shuffle-free projection over
    * the cached shingle table (the explode → 128-min-agg formulation moved
    * |shingles| rows through a shuffle to compute the same thing;
    * AggregatorParitySpec pins all formulations bit-identical). */
  def minhashSignatures(s: SparkSession, dir: String, k: Int = 128): DataFrame = {
    import s.implicits._
    shingled(s, dir).select($"doc_id",
      graft.functions.ArrayFunctions.minhashSignature(s, $"shingles", k).as("sig"))
  }

  /** MinHash + banded LSH near-dup: 32 bands × 4 rows (P[candidate] ≈
    * 1-(1-s^4)^32 — >0.9998 at s=0.7, ≈1 at the fixture's s≈0.98), then
    * exact-Jaccard verification, so the output equals the exact all-pairs
    * result (same oracle) as long as LSH recall holds at tau. */
  val minhashLsh: GraftQuery = GraftQuery(
    "llm_dedup_near",
    (s, dir) => {
      import s.implicits._
      val sigs = minhashSignatures(s, dir)
      val bands = sigs.select($"doc_id",
          posexplode(TF.bandHashes($"sig", numBands = 32, r = 4)).as(Seq("band", "bh")))
        .cache() // both sides of the self-join below
      val cands = bands.as("a")
        .join(bands.hint("shuffle_hash").as("b"),
          $"a.band" === $"b.band" && $"a.bh" === $"b.bh" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
        .distinct()
      verifyPairs(s, dir, cands)
    },
    Some(jaccardOracle)
  )

  /** Planted-twin doc_id offset for llm_dedup_simhash (its own range so
    * the constructed fixtures can never collide with SnippetIdOffset /
    * SemTwinOffset / LshTwinOffset ids). */
  private[graft] val SimhashTwinOffset = 40000000L

  /** The llm_dedup_simhash dataflow over the corpus, optionally unioned
    * with planted EXACT-DUPLICATE twins (every 20th doc re-keyed by
    * SimhashTwinOffset, text unchanged). Identical text ⇒ identical
    * xxhash64 token hashes ⇒ identical 64-bit fingerprint ⇒ the twin
    * pair shares every chunk and verifies at Hamming exactly 0 — a
    * deterministic function of the data under the engine-private hash.
    * DedupSpec runs it twin-free for the background-pair properties. */
  private[graft] def simhashPipeline(s: SparkSession, dir: String,
      plantTwins: Boolean): DataFrame = {
    import s.implicits._
    val raw = Tables.documents(s, dir).select($"doc_id", $"text")
    val twins = raw.filter($"doc_id" % 20 === 7)
      .select(($"doc_id" + SimhashTwinOffset).as("doc_id"), $"text")
    val docs = if (plantTwins) raw.unionAll(twins) else raw
    // Row-level native SimHash (one pass per doc, zero shuffle) — the
    // explode-×64-bits dataflow form this replaces moved tokens×64 rows
    // through two shuffles; DedupSpec pins the fingerprint values.
    val hashes = docs
      .select($"doc_id",
        graft.functions.ArrayFunctions.simhash64(s, TF.tokens($"text"))
          .as("simhash"))
    val chunks = hashes.select($"doc_id", $"simhash",
        explode(sequence(lit(0), lit(3))).as("j"))
      .select($"doc_id", $"simhash", $"j",
        expr("shiftright(simhash, CAST(j AS INT) * 16)").bitwiseAND(lit(0xFFFFL)).as("chunk"))
    chunks.as("a")
      .join(chunks.as("b"),
        $"a.j" === $"b.j" && $"a.chunk" === $"b.chunk" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).as("hamming"))
      .distinct()
      .filter($"hamming" <= 3)
      .orderBy($"id_a", $"id_b")
  }

  /** SimHash near-dup: 64-bit majority-vote fingerprint over token hashes,
    * candidates via 4×16-bit chunk equality (any pair within Hamming
    * distance 3 shares at least one intact chunk — pigeonhole), verified by
    * bit_count(xor).
    *
    * Oracle via the planted-twin device (the llm_dedup_semantic / ANN
    * construction): the fingerprint depends on Spark's xxhash64, which
    * DuckDB cannot reproduce, so background Hamming values can never
    * hash-match — but a planted exact-duplicate's pair is
    * hash-independent: identical text gives an identical fingerprint
    * under ANY token hash, so the graded slice (id, id + offset,
    * hamming 0) is a closed form DuckDB states directly. A dropped or
    * corrupted fingerprint is now a hash failure. The full
    * background-pair surface stays spec-covered (simhashPipeline,
    * twin-free). */
  val simhash: GraftQuery = GraftQuery(
    "llm_dedup_simhash",
    (s, dir) => {
      import s.implicits._
      simhashPipeline(s, dir, plantTwins = true)
        .filter($"id_b" === $"id_a" + SimhashTwinOffset)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""SELECT doc_id AS id_a, doc_id + $SimhashTwinOffset AS id_b,
                    CAST(0 AS INT) AS hamming
             FROM documents WHERE doc_id % 20 = 7
             ORDER BY id_a, id_b""")
  )

  /** Oracle-able SimHash twin: same chunk-bucketed dataflow as
    * llm_dedup_simhash, but the per-token hash is the first 60 bits of
    * md5 (15 hex chars, fits BIGINT in both engines) — reproducible bit-for-bit in DuckDB (xxhash64, the production
    * default above, is not). 60-bit signature, majority vote per bit,
    * candidates via 4×15-bit chunk equality (pigeonhole: any pair within
    * Hamming distance 3 shares an intact chunk), exact Hamming verify.
    * The vote sums are order-independent integers, so Spark's array fold
    * and DuckDB's group-sum agree exactly. */
  val simhashPoly: GraftQuery = GraftQuery(
    "llm_dedup_simhash_poly",
    (s, dir) => {
      import s.implicits._
      // Token hash: codegen'd built-in chain (md5 → substring → conv),
      // DuckDB-reproducible. The vote fold runs in the native
      // SimHashFromHashes expression — the declarative
      // aggregate-per-bit form re-traversed the hash array 60× through
      // interpreted lambdas (33.9 s at sf0.1 → ~1 s; parity pinned in
      // ExpressionParitySpec).
      val sigs = Tables.documents(s, dir)
        .select($"doc_id", TF.tokens($"text").as("toks"))
        .withColumn("hashes",
          expr("transform(toks, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"))
        .withColumn("simhash",
          graft.functions.ArrayFunctions.simhashFromHashes(s, $"hashes", 60))
        .select($"doc_id", $"simhash")
      val chunks = sigs.select($"doc_id", $"simhash",
          explode(sequence(lit(0), lit(3))).as("j"))
        .select($"doc_id", $"simhash", $"j",
          expr("shiftright(simhash, CAST(j AS INT) * 15)").bitwiseAND(lit(0x7FFFL)).as("chunk"))
      chunks.as("a")
        .join(chunks.hint("shuffle_hash").as("b"),
          $"a.j" === $"b.j" && $"a.chunk" === $"b.chunk" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
          bit_count($"a.simhash".bitwiseXOR($"b.simhash")).as("hamming"))
        .distinct()
        .filter($"hamming" <= 3)
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
            h AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
              FROM tok),
            bits AS (
              SELECT doc_id, j,
                     CASE WHEN sum(((h >> j) & 1) * 2 - 1) > 0
                          THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END AS bitv
              FROM h, range(60) r(j)
              GROUP BY doc_id, j),
            sig AS (
              SELECT doc_id, CAST(sum(bitv) AS BIGINT) AS simhash
              FROM bits GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            ORDER BY id_a, id_b""")
  )

  /** Rows the llm_dedup_embed audit slice targets: the sample modulus is
    * max(1, floor(N / EmbedAuditSize)), so the exact all-pairs work is
    * bounded at ~EmbedAuditSize² cosines at ANY corpus size. */
  private[graft] val EmbedAuditSize = 1000L

  /** Exact all-pairs embedding-cosine near-dup over an arbitrary slice —
    * the ground-truth verifier. Deliberately O(|slice|²): DedupSpec runs
    * it un-sliced to measure embedCosineLsh's recall; the GRADED registry
    * form below never does. */
  private[graft] def embedCosineAllPairs(s: SparkSession, dir: String,
      slice: DataFrame => DataFrame = identity): DataFrame = {
    import s.implicits._
    val e = slice(Tables.embeddings(s, dir).select($"vec_id", $"embedding"))
    val a = e.select($"vec_id".as("id_a"), $"embedding".as("v_a"))
    val b = e.select($"vec_id".as("id_b"), $"embedding".as("v_b"))
    a.join(broadcast(b), $"id_a" < $"id_b")
      .withColumn("cos", round(VectorFunctions.cosine(s, $"v_a", $"v_b"), 4))
      .filter($"cos" >= 0.4)
      .select($"id_a", $"id_b", $"cos")
      .orderBy($"id_a", $"id_b")
  }

  /** Embedding-cosine near-dup, exact BOUNDED-AUDIT form: all pairs with
    * cosine ≥ 0.4 within a deterministic fixed-SIZE sample of the corpus
    * (vec_id % m = 0 with m = max(1, floor(N / EmbedAuditSize))). This is
    * the production role of an exact pair scan at 100 TB — a recall AUDIT
    * of the approximate path (embedCosineLsh), not a corpus sweep: the
    * full τ=0.4 pair set is itself Ω(N²) OUTPUT, so no implementation of
    * the unsliced semantics can scale, and a sampled slice estimates the
    * LSH path's recall with the usual √s error. Cost is one O(N) scan to
    * sample plus a CONSTANT ~EmbedAuditSize² exact-cosine block (codegen
    * FloatVecCosine under a bounded broadcast) — the modulus rides a
    * 1-row count broadcast, never driver state. At sf ≤ 0.01 (N ≤
    * EmbedAuditSize) m = 1 and the audit IS the full verifier. */
  val embedCosine: GraftQuery = GraftQuery(
    "llm_dedup_embed",
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val mRow = e.agg(
        greatest(lit(1L), floor(count(lit(1)) / lit(EmbedAuditSize))).as("m"))
      embedCosineAllPairs(s, dir,
        _.crossJoin(broadcast(mRow)).filter($"vec_id" % $"m" === 0)
          .select($"vec_id", $"embedding"))
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             m AS (SELECT greatest(1, CAST(floor(count(*) / $EmbedAuditSize.0) AS BIGINT)) AS m FROM e),
             sl AS (SELECT vec_id, v FROM e, m WHERE vec_id % m.m = 0)
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    (round(list_cosine_similarity(a.v, b.v), 4) + 0.0) AS cos
             FROM sl a JOIN sl b ON a.vec_id < b.vec_id
             WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
             ORDER BY id_a, id_b""")
  )

  /** Planted-twin id offset for llm_dedup_embed_lsh (distinct range from
    * SemTwinOffset / SimhashTwinOffset / SnippetIdOffset). */
  private[graft] val LshTwinOffset = 30000000L

  /** The llm_dedup_embed_lsh dataflow, optionally unioned with planted
    * exact-direction twins (every 20th vector × 2.0f, re-keyed by
    * LshTwinOffset). sign(v·p) = sign(2v·p) under ANY hyperplane, so a
    * twin lands in its source's bucket (and the identical Hamming-1
    * probe set) under any plane draw — the twin pair is ALWAYS a
    * candidate and verifies at cosine exactly 1.0 (the ×2 exponent
    * shift cancels in dot/(‖a‖‖b‖)). DedupSpec runs it twin-free for
    * the recall measurement against the exact verifier. */
  private[graft] def embedCosineLshPipeline(s: SparkSession, dir: String,
      plantTwins: Boolean): DataFrame = {
    import s.implicits._
    val nPlanes = 5
    val raw = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    val twins = raw.filter($"vec_id" % 20 === 7)
      .select(($"vec_id" + LshTwinOffset).as("vec_id"),
        transform($"embedding", x => x * lit(2.0f)).as("embedding"))
    val e = if (plantTwins) raw.unionAll(twins) else raw
    val probed = e.select($"vec_id",
      explode(Similarity.probeBuckets(s, $"embedding", nPlanes)).as("bucket"))
    val pairs = probed.as("a")
      .join(probed.hint("shuffle_hash").as("b"),
        $"a.bucket" === $"b.bucket" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"))
      .distinct() // dedupe multi-probe collisions on slim id pairs
    // Verification joins the embedding table back by id WITHOUT a
    // broadcast (the embedding table is O(N); see verifyPairs rationale).
    pairs
      .join(e.select($"vec_id".as("id_a"), $"embedding".as("v_a"))
             .hint("shuffle_hash"), "id_a")
      .join(e.select($"vec_id".as("id_b"), $"embedding".as("v_b"))
             .hint("shuffle_hash"), "id_b")
      .withColumn("cos", round(VectorFunctions.cosine(s, $"v_a", $"v_b"), 4))
      .filter($"cos" >= 0.4)
      .select($"id_a", $"id_b", $"cos")
      .orderBy($"id_a", $"id_b")
  }

  /** Embedding-cosine near-dup, LSH-bucketed: the 100 TB form of
    * embedCosine. Random-hyperplane buckets with Hamming-1 multi-probe on
    * both sides turn the all-pairs scan into an equi-join on bucket id;
    * survivors are verified with the exact codegen cosine, so precision is
    * 1.0 by construction (every emitted pair is a true near-dup) and only
    * recall is approximate — DedupSpec measures it against the exact
    * verifier.
    *
    * Oracle via the planted-twin device: background recall is
    * plane-dependent and can never hash-match, but the planted
    * exact-direction twin slice is retrieved with probability 1 under
    * ANY planes (see embedCosineLshPipeline), so the graded form
    * projects (id, id + offset, 1.0) — a closed form DuckDB states
    * directly. A dropped bucket, broken probe set, or mis-keyed verify
    * join is now a hash failure. */
  val embedCosineLsh: GraftQuery = GraftQuery(
    "llm_dedup_embed_lsh",
    (s, dir) => {
      import s.implicits._
      embedCosineLshPipeline(s, dir, plantTwins = true)
        .filter($"id_b" === $"id_a" + LshTwinOffset)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""SELECT vec_id AS id_a, vec_id + $LshTwinOffset AS id_b,
                    CAST(1.0 AS DOUBLE) AS cos
             FROM embeddings WHERE vec_id % 20 = 7
             ORDER BY id_a, id_b""")
  )

  /** Cosine threshold for semantic dedup: SemDeDup's operating point —
    * only near-identical directions count (fixture background pairs top
    * out ≈0.55, planted twins sit at exactly 1.0). */
  private[graft] val SemTau = 0.95

  /** Planted-twin id offset for llm_dedup_semantic (distinct from
    * SnippetIdOffset so the two constructed fixtures can never collide). */
  private[graft] val SemTwinOffset = 20000000L

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding
    * space with k-means, then search for near-duplicate pairs ONLY within
    * each cluster — the all-pairs comparison collapses from O(N²) to
    * Σ m_c² over cell sizes (≈ N·√N at the √N-cell default, and the
    * production knob is a per-cell size cap exactly like the containment
    * df cap). Reuses the persisted IVF fine codebook (fineCentroids) as
    * the clustering — the SAME model artifact ANN serving descends, so
    * the index is built once and consumed by both workloads.
    *
    * Oracle-ability despite a non-deterministic codebook: the fixture
    * unions the corpus with exact-direction twins (every 20th vector
    * scaled by 2.0f — a power of two, so assignment scores and the final
    * cosine are IDENTICAL floats to the original's, not merely close).
    * Cosine is scale-invariant, so twin and original land in the same
    * cell under ANY codebook, and their verified cosine rounds to exactly
    * 1.0; background pairs cap at ≈0.55, far under τ=0.95. The emitted
    * pair set is therefore a deterministic function of the data even
    * though the cell partition is not — which is what makes a hash-grade
    * DuckDB oracle possible for a clustering-dependent operator.
    *
    * Scale shape: assignment is a broadcast-codebook scan projection (no
    * shuffle); the within-cell pair search is an equi-join on cid that
    * shuffles (cid, id, vector) once per side; verification is the exact
    * codegen cosine inline in the join projection. At 100 TB the base
    * side reads the persisted ivfIndex assignments instead of
    * re-assigning (same cid key, same join). */
  val semantic: GraftQuery = GraftQuery(
    "llm_dedup_semantic",
    (s, dir) => semanticPipeline(s, dir, plantTwins = true),
    Some(s"""SELECT vec_id AS id_a, vec_id + $SemTwinOffset AS id_b,
                    CAST(1.0 AS DOUBLE) AS cos
             FROM embeddings WHERE vec_id % 20 = 7
             ORDER BY id_a, id_b""")
  )

  /** Per-vector cell assignment for the semantic family: nearest fine
    * centroid, optionally refined by `subPlanes` random-hyperplane sign
    * bits — the HOT-CELL knob. A k-means cell that collects millions of
    * members would make the within-cell pair search quadratic in that
    * cell; appending a 2^subPlanes-way hyperplane code splits every cell
    * geometrically (nearby directions stay together) and, crucially, the
    * sign code is SCALE-INVARIANT (dot(c·v, p) = c·dot(v, p) flips no
    * sign for c > 0), so exact-direction duplicates can never be
    * separated by the split — recall at the τ=0.95 operating point is
    * untouched while Σ m_c² shrinks ~2^subPlanes-fold. DedupSpec sweeps
    * the knob: planted pairs retained bit-for-bit, max cell strictly
    * smaller. */
  private[graft] def semanticAssignments(s: SparkSession, dir: String,
                                         plantTwins: Boolean,
                                         subPlanes: Int): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    val twins = e.filter($"vec_id" % 20 === 7)
      .select(($"vec_id" + SemTwinOffset).as("vec_id"),
        transform($"embedding", x => x * lit(2.0f)).as("embedding"))
    val codebook = Similarity.cbOf(s, Similarity.fineCentroids(s, dir))
    val assigned = (if (plantTwins) e.unionAll(twins) else e)
      .crossJoin(codebook)
      .withColumn("cid",
        array_max(Similarity.centScores(s, $"embedding")).getField("cid"))
      .drop("cb")
    if (subPlanes == 0) assigned.withColumn("cell", $"cid")
    else assigned.withColumn("cell",
      $"cid" * lit(1L << subPlanes) +
        Similarity.bucketCol(s, $"embedding", subPlanes).cast("long"))
  }

  /** The llm_dedup_semantic dataflow; `plantTwins = false` runs it over
    * the raw corpus alone, where the output must be EMPTY under any
    * codebook (background pairs cap far below τ) — the precision property
    * DedupSpec pins. `subPlanes` engages the hot-cell split (see
    * semanticAssignments); the registered query runs unsplit. */
  private[graft] def semanticPipeline(s: SparkSession, dir: String,
                                      plantTwins: Boolean,
                                      subPlanes: Int = 0): DataFrame = {
    import s.implicits._
    val assigned = semanticAssignments(s, dir, plantTwins, subPlanes)
    val a = assigned.select($"cell", $"vec_id".as("id_a"), $"embedding".as("v_a"))
    val b = assigned.select($"cell".as("cell_b"), $"vec_id".as("id_b"),
      $"embedding".as("v_b"))
    a.join(b.hint("shuffle_hash"), $"cell" === $"cell_b" && $"id_a" < $"id_b")
      .withColumn("cos", round(VectorFunctions.cosine(s, $"v_a", $"v_b"), 4))
      .filter($"cos" >= SemTau)
      .select($"id_a", $"id_b", $"cos")
      .orderBy($"id_a", $"id_b")
  }

  /** Distributed connected components by iterative min-label propagation
    * (the dataflow form of Pregel CC): every vertex repeatedly adopts the
    * minimum label among itself and its neighbors until a fixpoint.
    *
    * Scale shape: each round is one equi-join (edges ⋈ labels on src) and
    * one hash aggregate (min label per vertex) — both co-partitioned on the
    * vertex key, so a round is two bounded shuffles over O(V+E) rows.
    * Rounds needed = graph diameter; dedup similarity graphs are unions of
    * near-cliques (diameter 1–3 in practice), which is why propagation is
    * the right variant here — the O(log n)-round large-star/small-star
    * alternation only pays off on long-path adversarial graphs.
    * `localCheckpoint` truncates lineage each round so the plan doesn't
    * grow with iteration count; the only driver-side values are the scalar
    * convergence counters. */
  private[graft] def connectedComponents(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val sym = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .localCheckpoint()
    var labels = sym.select($"src".as("v")).distinct()
      .select($"v", $"v".as("cid"))
      .localCheckpoint()
    // TWO propagation hops per blocking round (r16: the lineage-cut +
    // convergence-check ladder is the fixpoint cost, not the data) — the
    // min-label fixpoint is unique and extra steps past it are identity,
    // so double-stepping halves the checkpoint count and changes no
    // label. The inner step's aggregate subtree appears twice in the
    // round's plan and is planned once (ReusedExchange). Convergence is
    // a filter-scan isEmpty of the fresh checkpoint, not a count job.
    def step(l: DataFrame): DataFrame = sym
      .join(l.withColumnRenamed("v", "src"), "src")
      .select($"dst".as("v"), $"cid")
      .union(l)
      .groupBy($"v").agg(min($"cid").as("cid"))
    var done = false
    var round = 0
    while (!done && round < maxRounds) {
      // The changed-label count rides the checkpoint's own job via
      // observe (r17) — the filter-scan isEmpty probe was a second
      // blocking job per round on the frame just materialized.
      val (next, chg) = GraftQuery.checkpointCounted(
        step(step(labels))
          .withColumnRenamed("cid", "ncid")
          .join(labels, "v")
          .select($"v", $"cid".as("old"), $"ncid".as("cid")),
        count(when($"cid" < $"old", lit(1))))
      done = chg == 0L
      labels = next.select($"v", $"cid")
      round += 1
    }
    // Fail loudly rather than return a partition that splits a real
    // component (a keep/drop list built from it would keep duplicates).
    if (!done)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds two-hop rounds " +
        "(labels still changing); raise maxRounds for graphs of this diameter")
    labels
  }

  /** Persisted FULL-corpus cluster labels (v, cid) — the ONE connected-
    * components product the whole clustering family reads:
    * llm_dedup_cluster windows cluster sizes over it and
    * llm_dedup_keep_best joins quality scores against it, so CC — the most
    * iterative cost in the engine — runs once per dataset, not once per
    * consuming query (round 5 ran it twice per session). Pairs come from
    * the PERSISTED layouts (shared with llm_dedup_bucketed /
    * llm_dedup_incremental): signatures feed the verification SMJ
    * co-located and the candidate self-join reads the hv-bucketed prefix
    * table on BOTH sides, so the build re-shingles nothing. Labels are
    * component-min doc_ids (min-label CC) — deterministic, hence safe to
    * persist and share. Bucketed by v so every downstream per-vertex join
    * reads it co-partitioned and exchange-free. */
  private[graft] def fullLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Layouts.table(s, "full_labels", dir,
        Layouts.fingerprint(Tables.documents(s, dir), "doc_id", "text"),
        8, Seq("v")) {
      val pairs = jaccardPipelineOver(s, bucketedSignatures(s, dir),
          merge = true,
          prefixTable = Some(bucketedPrefixes(s, dir)))
        .select($"id_a".as("src"), $"id_b".as("dst"))
      connectedComponents(pairs).repartition(8, $"v")
    }
  }

  /** Near-dup clustering: the verified n-gram-Jaccard pair set becomes an
    * undirected graph; its connected components are the duplicate clusters
    * and min(doc_id) is the deterministic cluster representative. This is
    * the step that turns pairwise dedup output into an actionable
    * keep/drop list — at corpus scale a transitive closure, not a pair
    * list, is what the pipeline acts on (keep `cluster_id`, drop the
    * rest). Labels come from the shared persisted artifact (fullLabels);
    * this query adds only the per-cluster size window. Oracle: DuckDB
    * recursive CTE transitive closure over the same pair set. */
  val cluster: GraftQuery = GraftQuery(
    "llm_dedup_cluster",
    (s, dir) => {
      import s.implicits._
      fullLabels(s, dir)
        .withColumn("cluster_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"cid")))
        .select($"v".as("doc_id"), $"cid".as("cluster_id"), $"cluster_size")
        .orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE sh AS (
               SELECT doc_id,
                      list_distinct(list_transform(range(1, greatest(len(w) - 1, 1)),
                        i -> array_to_string(w[i:i+2], ' '))) AS s
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
             post AS (SELECT doc_id, unnest(s) AS g FROM sh),
             sz AS (SELECT doc_id, len(s) AS n FROM sh),
             inter AS (SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS c
                       FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
                       GROUP BY 1, 2),
             pairs AS (
               SELECT u, v FROM inter
               JOIN sz sa ON sa.doc_id = u JOIN sz sb ON sb.doc_id = v
               WHERE CAST(c AS DOUBLE)
                     / CAST(sa.n + sb.n - c AS DOUBLE) >= $Tau),
             edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
             reach(v, r) AS (
               SELECT u, u FROM edges
               UNION
               SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.v),
             comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v)
             SELECT doc_id, cluster_id,
                    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
             FROM comp ORDER BY doc_id""")
  )

  /** Persisted corpus-only cluster labels (v, cid) — the state the
    * incremental clustering path merges into. Written once per sf-dir by
    * clustering the corpus-internal pair graph (both endpoints ≤ the
    * derived watermark); re-registered, not recomputed, on later sessions
    * (the bucketedSignatures convention). Bucketed by `v` so the
    * endpoint-relabel joins read it co-partitioned. Labels are component-
    * min doc_ids by construction (min-label CC), which is what makes the
    * incremental merge's reduced-graph labels equal a full re-run's. */
  private[graft] def corpusLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The fingerprint also covers the baked-in watermark: the derived
    // midpoint is a pure function of max(doc_id), which the fingerprint
    // carries — a fixture change invalidates rather than silently merging
    // new batches into stale labels.
    Layouts.table(s, "labels", dir,
        Layouts.fingerprint(Tables.documents(s, dir), "doc_id", "text"),
        8, Seq("v")) {
      val docs = Tables.documents(s, dir)
      val wm = docs.agg(floor(max($"doc_id") / 2.0).cast("long").as("wm"))
      val corpusSh = bucketedSignatures(s, dir)
        .join(broadcast(wm), $"doc_id" <= $"wm")
        .select($"doc_id", $"shingles", $"n")
      // Candidates self-join the persisted hv-bucketed prefix layout
      // (watermark-filtered, partitioning preserved): both sides arrive
      // co-partitioned on hv, zero exchange — the write pays only the
      // verification and CC, not a prefix re-derivation.
      val pCorpus = bucketedPrefixes(s, dir)
        .join(broadcast(wm), $"doc_id" <= $"wm")
        .select($"doc_id", $"n", $"pos", $"hv")
      val cands = candidatesBetween(s, pCorpus, pCorpus)
      val corpusPairs = verifyPairsSides(s, corpusSh, "merge",
          corpusSh, "merge", cands)
        .select($"id_a".as("src"), $"id_b".as("dst"))
      connectedComponents(corpusPairs).repartition(8, $"v")
    }
  }

  /** Incremental near-dup clustering — merging a batch's verified pairs
    * into the persisted corpus clustering WITHOUT re-running connected
    * components over the full graph (the last batch-only step in the
    * recurring dedup story). The algebra: old components are internally
    * connected, and new edges are the only way anything merges, so
    * contract each old component to its label super-node (one
    * co-partitioned left join per endpoint against the persisted labels),
    * run min-label CC on the REDUCED graph — O(new pairs) edges, rounds
    * bounded by the reduced diameter, independent of corpus size — and
    * relabel: an old vertex's final label is its component label mapped
    * through the reduced labeling; a vertex first seen in the new pairs
    * takes its reduced label directly. Because old labels are component-
    * min doc_ids, the reduced min-label equals the merged component's
    * global min doc_id — i.e. EXACTLY what a full re-run yields, which is
    * why the oracle is llm_dedup_cluster's verbatim.
    *
    * Scale shape: the recurring cost is the incremental pair set (O(batch)
    * via the persisted layouts), a CC over O(new pairs) reduced edges, and
    * ONE pass of co-partitioned relabel joins over the labels table —
    * never an iterative walk over O(V+E). */
  val clusterIncremental: GraftQuery = GraftQuery(
    "llm_dedup_cluster_incremental",
    (s, dir) => {
      import s.implicits._
      val oldLabels = corpusLabels(s, dir)
      // Materialize the batch's pair set ONCE: mergeLabels consumes it
      // twice (super-node contraction AND fresh-vertex relabel), and
      // without the cut each consumer would re-execute the whole
      // incremental pipeline — the single most expensive subtree here.
      // The checkpoint holds O(new pairs) id rows, exactly the state a
      // real incremental run would have just written to its pair sink.
      val newPairs = incrementalPipeline(s, dir)
        .select($"id_a".as("src"), $"id_b".as("dst"))
        .localCheckpoint()
      mergeLabels(oldLabels, newPairs)
        .withColumn("cluster_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"cid")))
        .select($"v".as("doc_id"), $"cid".as("cluster_id"), $"cluster_size")
        .orderBy($"doc_id")
    },
    cluster.oracle,
    // Plan gates audit BOTH real plans this query comprises (ADVICE
    // r15): the un-memoized pair pipeline, and the contract/relabel
    // merge over the materialized pair set (the served merge plan —
    // newPairs is a checkpoint by design there, exactly as in `run`).
    auditPlans = Some((s, dir) => {
      import s.implicits._
      val newPairs = incrementalPipeline(s, dir)
        .select($"id_a".as("src"), $"id_b".as("dst"))
        .localCheckpoint()
      Seq(
        incrementalPipelineBuild(s, dir),
        mergeLabels(corpusLabels(s, dir), newPairs)
          .withColumn("cluster_size",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"cid")))
          .select($"v".as("doc_id"), $"cid".as("cluster_id"), $"cluster_size"))
    })
  )

  /** The reduced-graph label merge at the heart of incremental
    * clustering: given an existing min-label component labeling
    * (`oldLabels`: (v, cid), cid = component-min vertex id) and a set of
    * NEW edges, return the labeling of CC(old edges ∪ new edges) without
    * touching the old edges. Old components are internally connected and
    * new edges are the only way anything merges, so each old component
    * contracts to its label super-node, min-label CC runs on the
    * O(new edges) reduced graph, and one relabel pass maps everything
    * through. Requires only that old labels are component-MIN ids (so
    * the reduced min equals the merged component's global min) — NOT
    * that new-edge endpoints exceed old ids. DedupSpec property-tests
    * merged == full-CC over random graph splits. */
  private[graft] def mergeLabels(oldLabels: DataFrame, newPairs: DataFrame): DataFrame = {
    val s = oldLabels.sparkSession
    import s.implicits._
    // Contract endpoints to super-nodes: an endpoint inside an old
    // component becomes that component's label; anything else (vertices
    // first seen in the new edges) stands for itself.
    val contracted = newPairs
      .join(oldLabels.select($"v".as("src"), $"cid".as("scid"))
              .hint("shuffle_hash"), Seq("src"), "left")
      .join(oldLabels.select($"v".as("dst"), $"cid".as("dcid"))
              .hint("shuffle_hash"), Seq("dst"), "left")
      .select(coalesce($"scid", $"src").as("src"),
              coalesce($"dcid", $"dst").as("dst"))
      // Self-loops appear when both endpoints already share an old
      // component — no merge information, drop before the reduced CC.
      .filter($"src" =!= $"dst")
    val reduced = connectedComponents(contracted)
    // Relabel the old world through the reduced labeling (label → new
    // label, identity where untouched by any new edge)...
    val oldFinal = oldLabels
      .join(reduced.select($"v".as("cid"), $"cid".as("ncid")), Seq("cid"), "left")
      .select($"v", coalesce($"ncid", $"cid").as("cid"))
    // ...and label the vertices first seen in the new pairs: their
    // super-node IS the vertex, so the reduced labeling carries them
    // (anything reduced-CC never saw kept no pair and emits nothing).
    val newFinal = newPairs
      .select(explode(array($"src", $"dst")).as("v")).distinct()
      .join(oldLabels.select($"v"), Seq("v"), "left_anti")
      .join(reduced, Seq("v"))
    oldFinal.unionAll(newFinal)
  }

  /** Quality-based keep/drop — the final act of the dedup story: each
    * duplicate cluster keeps its HIGHEST-QUALITY copy (llm_quality's
    * composite score; ties break to the lower doc_id), not simply its
    * min-id. This is how production corpora actually dedup: the
    * representatives you train on should be the best members, and
    * "min-id" is only a stand-in when no quality signal exists.
    *
    * Scale shape: labels are read from the SHARED persisted artifact
    * (fullLabels — CC ran once per dataset, not per query); the quality
    * score is a scan projection joined back by id as shuffle_hash (the
    * score table is O(N) — never broadcast); the per-cluster argmax is
    * ONE primitive hash aggregate. The (score desc, id asc) argmax packs
    * into a single long — score is rounded to 4 dp so score_key =
    * round(score·10⁴) is an exact integer ≤ 10⁴, shifted past 40 bits of
    * inverted id (ids must fit 40 bits ≈ 10¹²; widen the split if yours
    * don't) — because a struct-ordered max_by/rank-window formulation
    * forces SortAggregate / a full-partition window, while max(long)
    * keeps map-side partials carrying one candidate per (cluster ×
    * partition). Oracle composes the cluster closure CTE with
    * llm_quality's score expression verbatim; the keeper's score is the
    * cluster max by construction. */
  /** The (score desc, id asc) argmax packed into one long: score_key =
    * round(score·10⁴) is an exact integer ≤ 10⁴ (score is 4-dp rounded),
    * shifted past KeeperIdBits of INVERTED id so larger encodings mean
    * higher score, then lower id. 14 + 40 bits stays far inside a long;
    * ids must fit 40 bits (≈10¹²) — widen if yours don't. An id outside
    * the bound would silently corrupt the argmax, so the encoding carries
    * an assert_true that fails the job loudly instead (riding the same
    * codegen projection — no extra pass, no plan change). DedupSpec pins
    * encode/decode round-trips, ordering at the id-range boundary, and
    * the out-of-range failure. */
  private[graft] val KeeperIdBits = 40
  private[graft] def keeperEncode(score: Column, v: Column): Column = {
    val bound = lit(1L << KeeperIdBits)
    val guard = assert_true(v >= 0 && v < bound,
      concat(lit(s"keeper encoding overflow: doc_id "), v.cast("string"),
             lit(s" outside [0, 2^$KeeperIdBits); widen KeeperIdBits")))
    round(score * 10000).cast("long") * bound +
      (lit((1L << KeeperIdBits) - 1) - v) + coalesce(guard.cast("long"), lit(0L))
  }
  private[graft] def keeperDecodeId(c: Column): Column =
    lit((1L << KeeperIdBits) - 1) - pmod(c, lit(1L << KeeperIdBits))

  /** Per-cluster quality argmax (unordered): (cluster_id, keeper_id,
    * keeper_score, n_docs). Labels are the SHARED persisted artifact — no
    * CC of its own (the round-5 duplicate-CC fix); the bucketed-by-v
    * layout means the labels side of the quality join arrives
    * exchange-free. Shared by llm_dedup_keep_best and llm_curate. */
  private[graft] def clusterKeepers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    fullLabels(s, dir)
      .join(TextStats.scoredDocs(s, dir).withColumnRenamed("doc_id", "v")
              .hint("shuffle_hash"), "v")
      .groupBy($"cid")
      .agg(
        max(keeperEncode($"score", $"v")).as("c"),
        max($"score").as("keeper_score"),
        count(lit(1)).as("n_docs"))
      .select($"cid".as("cluster_id"),
        keeperDecodeId($"c").as("keeper_id"),
        $"keeper_score", $"n_docs")
  }

  val keepBest: GraftQuery = GraftQuery(
    "llm_dedup_keep_best",
    (s, dir) => {
      import s.implicits._
      clusterKeepers(s, dir).orderBy($"cluster_id")
    },
    Some(s"""WITH RECURSIVE sh AS (
               SELECT doc_id,
                      list_distinct(list_transform(range(1, greatest(len(w) - 1, 1)),
                        i -> array_to_string(w[i:i+2], ' '))) AS s
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
             post AS (SELECT doc_id, unnest(s) AS g FROM sh),
             sz AS (SELECT doc_id, len(s) AS n FROM sh),
             inter AS (SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS c
                       FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
                       GROUP BY 1, 2),
             pairs AS (
               SELECT u, v FROM inter
               JOIN sz sa ON sa.doc_id = u JOIN sz sb ON sb.doc_id = v
               WHERE CAST(c AS DOUBLE)
                     / CAST(sa.n + sb.n - c AS DOUBLE) >= $Tau),
             edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
             reach(v, r) AS (
               SELECT u, u FROM edges
               UNION
               SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.v),
             comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
             q AS (SELECT doc_id, ${TextStats.scoreSql} AS score FROM documents),
             j AS (
               SELECT comp.cluster_id, comp.doc_id, q.score,
                      row_number() OVER (PARTITION BY comp.cluster_id
                        ORDER BY q.score DESC, comp.doc_id ASC) AS rn,
                      count(*) OVER (PARTITION BY comp.cluster_id) AS n_docs
               FROM comp JOIN q USING (doc_id))
             SELECT cluster_id, doc_id AS keeper_id, score AS keeper_score, n_docs
             FROM j WHERE rn = 1 ORDER BY cluster_id""")
  )

  /** Normalization-aware exact dedup — the C4/Dolma preprocessing rule:
    * two documents are "the same" after lowercasing, punctuation
    * stripping and whitespace squeezing, which catches the
    * reformatted-but-identical copies plain byte-equality misses (and
    * which near-dup machinery is overkill for). Normalization is a
    * codegen'd scan projection (lower + two regexp_replace + trim);
    * dedup stays ONE hash aggregate on the 64-char key — exactly
    * llm_dedup_exact's cost shape, because the normalize step adds
    * zero shuffles. Groups report both the copy count and the
    * distinct-RAW-text count, so the operator's marginal value over
    * llm_dedup_exact is visible in its own output. The fixture plants
    * no byte-identical copies (llm_dedup_exact self-unions for the
    * same reason); here the planted twin is a REFORMATTED copy
    * (uppercased, trailing whitespace, id-offset) — byte-different,
    * normalization-identical, i.e. precisely the case this operator
    * exists to catch and plain exact dedup misses. */
  val exactNorm: GraftQuery = GraftQuery(
    "llm_dedup_exact_norm",
    (s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir).select($"doc_id", $"text")
      val reformatted = d.select(($"doc_id" + 1000000000L).as("doc_id"),
        concat(upper($"text"), lit("  ")).as("text"))
      val norm = trim(regexp_replace(
        regexp_replace(lower($"text"), "[^a-z0-9 ]", " "), " +", " "))
      d.union(reformatted)
        .select($"doc_id", $"text", sha2(norm, 256).as("norm_sha"))
        .groupBy($"norm_sha")
        .agg(min($"doc_id").as("keeper_id"),
          count(lit(1)).as("n_copies"),
          countDistinct($"text").as("n_distinct_raw"))
        .filter($"n_copies" >= 2)
        .select($"keeper_id", $"n_copies", $"n_distinct_raw")
        .orderBy($"keeper_id")
    },
    Some("""WITH u AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000000, upper(text) || '  ' FROM documents),
            n AS (
              SELECT doc_id, text,
                     trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
              FROM u)
            SELECT min(doc_id) AS keeper_id, count(*) AS n_copies,
                   count(DISTINCT text) AS n_distinct_raw
            FROM n GROUP BY norm HAVING count(*) >= 2
            ORDER BY keeper_id""")
  )

  /** SOFT DEDUPLICATION — instead of DROPPING duplicates, reweight them
    * (each member of an exact-duplicate cluster of size k carries weight
    * 1/k), the SoftDeDup recipe for pretraining mixes where hard
    * removal would distort the source distribution: the readout is each
    * source's raw vs EFFECTIVE character mass and the implied
    * repetition discount — what the mix planner multiplies sampling
    * rates by.
    *
    * Determinism: clusters key on sha2(text); per-doc effective mass is
    * the exact integer n_chars·10⁶ div k (both engines' integer
    * division on a non-negative domain), so the per-source sums are
    * BIGINT folds; the two ratios divide identical integers.
    *
    * Scale shape: one hash aggregate builds the cluster-size table
    * (O(distinct texts)), joined back BY HASH shuffle_hash (never a
    * broadcast of an O(N) table — the dedup-family invariant), then one
    * map-side-combined aggregate onto the bounded source domain. */
  val softDedup: GraftQuery = GraftQuery(
    "llm_dedup_soft",
    (s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir)
        .select($"doc_id", $"source", $"n_chars", sha2($"text", 256).as("h"))
      val k = d.groupBy($"h").agg(count(lit(1)).as("k"))
      d.join(k.hint("shuffle_hash"), "h")
        .withColumn("micro", expr("(n_chars * 1000000) div k"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"h").as("n_clusters"),
          sum($"n_chars").as("chars_total"),
          sum($"micro").as("eff_micro"))
        .select($"source", $"n_docs", $"n_clusters", $"chars_total",
          GraftQuery.roundNorm($"eff_micro".cast("double") / 1e6, 4)
            .as("chars_effective"),
          GraftQuery.roundNorm($"eff_micro".cast("double")
            / ($"chars_total".cast("double") * 1e6), 6).as("soft_ratio"))
        .orderBy($"source")
    },
    Some("""WITH d AS (
              SELECT doc_id, source, n_chars, sha256(text) AS h
              FROM documents),
            k AS (SELECT h, count(*) AS k FROM d GROUP BY h),
            j AS (
              SELECT d.source, d.n_chars, d.h,
                     (d.n_chars * 1000000) // k.k AS micro
              FROM d JOIN k USING (h))
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT h) AS n_clusters,
                   CAST(sum(n_chars) AS BIGINT) AS chars_total,
                   (round(CAST(sum(micro) AS DOUBLE) / 1e6, 4) + 0.0) AS chars_effective,
                   (round(CAST(sum(micro) AS DOUBLE)
                          / (CAST(sum(n_chars) AS DOUBLE) * 1e6), 6) + 0.0) AS soft_ratio
            FROM j GROUP BY source ORDER BY source""")
  )

  def all: Seq[GraftQuery] =
    Seq(exact, exactNorm, ngramJaccard, bucketed, containment,
      containmentCapped, incremental, minhashLsh,
        simhash, simhashPoly, embedCosine, embedCosineLsh, semantic, cluster,
        clusterIncremental, keepBest, softDedup)
}
