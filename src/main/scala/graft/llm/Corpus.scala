package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.sources.Tables
import graft.functions.{TextFunctions => TF}

/** Corpus-level curation operators for LLM training-data pipelines:
  * benchmark-contamination detection, repetition quality metrics in the
  * style of the Gopher rules, and TF-IDF term profiling.
  *
  * Scale design, common to all three:
  *  - everything reduces each document map-side (tokenize / n-gram /
  *    count) before any shuffle, so shuffles carry per-(doc, term)
  *    partial counts or fixed-width gram hashes — never document text;
  *  - cross-document work is always an equi-join or hash aggregate on a
  *    term/gram key; nothing is all-pairs.
  */
object Corpus {

  /** Contamination n-gram order: 8 word-grams is long enough that chance
    * collisions vanish even on a small vocabulary, short enough to catch
    * partial quote/overlap contamination (the 13-gram convention from
    * GPT-3's dedup applies the same dataflow — only the constant moves). */
  private[graft] val ContamN = 8

  /** Deterministic eval-set membership: docs with doc_id % 10 == 2 play
    * the role of the benchmark (in production this side is the actual
    * benchmark corpus — tiny next to the training corpus). */
  private[graft] val BenchMod = 10
  private[graft] val BenchRem = 2

  /** Per-doc distinct hashed `ContamN`-gram signatures: (doc_id, ghs).
    * Shared by the batch contamination query below and the incremental
    * foreachBatch form (streaming.CorpusStream) — one compact array row
    * per doc, grams never materialize as strings. Docs shorter than the
    * gram order carry no full 8-gram and are skipped (the native
    * expression would emit a partial shingle for them, which the oracle's
    * range() formulation never does). */
  private[graft] def gramSigs(s: SparkSession,
                              docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    docs
      .select($"doc_id", TF.tokens($"text").as("w"))
      .filter(size($"w") >= ContamN)
      .select($"doc_id",
        graft.functions.ArrayFunctions.sortedShingles(s, $"w", ContamN)
          .as("ghs"))
  }

  /** Benchmark contamination: which training docs share ≥1 distinct
    * `ContamN`-gram with the eval set, and how many.
    *
    * Scale shape: both sides reduce to distinct (doc, gram-hash) rows
    * map-side (explode + distinct carries 8-byte xxhash64 keys, not
    * strings); the contamination check is one equi-join on the gram hash
    * followed by a per-doc count. The benchmark side is small by
    * construction, so at cluster scale Catalyst broadcasts it and the
    * training corpus is never shuffled at all — the batch form here leaves
    * the choice to the planner. 64-bit gram hashing admits birthday
    * collisions near ~2^32 distinct grams; collisions only ever inflate
    * `n_shared` by the colliding gram, never drop a contamination. */
  val contamination: GraftQuery = GraftQuery(
    "llm_contamination",
    (s, dir) => {
      import s.implicits._
      // Grams never materialize as strings: the native SortedHashedShingles
      // expression emits the distinct hashed 8-gram set in one pass per
      // row (the concat_ws string form measured ~2x slower at sf0.1). The
      // oracle builds string grams — only the per-doc counts must agree,
      // and they do for any injective gram representation. The CACHE holds
      // the compact pre-explode signature rows (one array per doc), not the
      // exploded gram table — both branches below explode their own copy,
      // so the expensive hash pass runs once while memory stays O(docs).
      val sigs = gramSigs(s, Tables.documents(s, dir)).cache()
      val grams = sigs.select($"doc_id", explode($"ghs").as("gh"))
      val bench = grams.filter($"doc_id" % BenchMod === BenchRem)
        .select($"gh").distinct()
      // No distinct on the corpus side: SortedHashedShingles already
      // dedups within a doc, so (doc_id, gh) rows are unique — dropping
      // the redundant distinct removes a full shuffle of the big side.
      val corpus = grams.filter($"doc_id" % BenchMod =!= BenchRem)
      corpus.join(bench, "gh")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH grams AS (
               SELECT doc_id,
                      list_distinct(list_transform(range(1, greatest(len(w) - ${ContamN - 2}, 1)),
                        i -> array_to_string(w[i:i+${ContamN - 1}], ' '))) AS g
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
             bench AS (
               SELECT DISTINCT gu.x AS g FROM grams, unnest(g) AS gu(x)
               WHERE doc_id % $BenchMod = $BenchRem),
             corpus AS (
               SELECT DISTINCT doc_id, gu.x AS g FROM grams, unnest(g) AS gu(x)
               WHERE doc_id % $BenchMod != $BenchRem)
             SELECT c.doc_id, count(*) AS n_shared
             FROM corpus c JOIN bench b ON c.g = b.g
             GROUP BY c.doc_id ORDER BY c.doc_id""")
  )

  /** Decontamination threshold: docs sharing ≥ this many distinct
    * 8-grams with the eval set are dropped. 20 (vs detection's ≥1)
    * models the usual production split — heavy overlap is removed,
    * borderline single-hit docs are kept for review — and non-trivially
    * partitions the fixture's contaminated set (hits span 18–52). */
  private[graft] val DecontamMinHits = 20L

  /** Benchmark DECONTAMINATION — the act that follows detection: the
    * training corpus with heavily-contaminated docs REMOVED (and the
    * eval docs themselves excluded, since they are not training data).
    * This is the operator a pipeline actually runs before training;
    * llm_contamination is its diagnostic twin.
    *
    * Scale shape: detection as in llm_contamination (distinct gram
    * hashes map-side, equi-join against the broadcast-small bench side,
    * per-doc count); the kept-corpus output is then a LEFT ANTI join of
    * the documents scan against the contaminated-id set — which is tiny
    * (only docs over threshold), so Catalyst broadcasts it and the
    * corpus side streams through the anti join with ZERO shuffle. */
  /** Ids of training docs sharing ≥ DecontamMinHits distinct 8-grams
    * with the eval set — tiny by construction (only heavy overlappers),
    * so consumers broadcast it into anti joins. Shared by
    * llm_decontaminate and llm_curate, and PERSISTED via the Layouts
    * protocol (round 8): the contaminated-id set is a deterministic
    * per-dataset artifact like the CC labels and the bigram LM, so the
    * gram-explode detection pass runs once per dataset instead of once
    * per consumer — at 100 TB that pass is a full-corpus scan, exactly
    * the thing a pipeline materializes beside its eval-set registry. */
  private[graft] def contaminatedIds(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Layouts.parquet(s, Layouts.pathOf("contam", dir),
        Layouts.fingerprint(Tables.documents(s, dir), "doc_id", "text")) {
      val sigs = gramSigs(s, Tables.documents(s, dir)).cache()
      val grams = sigs.select($"doc_id", explode($"ghs").as("gh"))
      val bench = grams.filter($"doc_id" % BenchMod === BenchRem)
        .select($"gh").distinct()
      grams.filter($"doc_id" % BenchMod =!= BenchRem)
        .join(bench, "gh")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= DecontamMinHits)
        .select($"doc_id")
    }
  }

  val decontaminate: GraftQuery = GraftQuery(
    "llm_decontaminate",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter($"doc_id" % BenchMod =!= BenchRem)
        .join(broadcast(contaminatedIds(s, dir)), Seq("doc_id"), "left_anti")
        .select($"doc_id", $"lang", $"source")
        .orderBy($"doc_id")
    },
    Some(s"""WITH grams AS (
               SELECT doc_id,
                      list_distinct(list_transform(range(1, greatest(len(w) - ${ContamN - 2}, 1)),
                        i -> array_to_string(w[i:i+${ContamN - 1}], ' '))) AS g
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
             bench AS (
               SELECT DISTINCT gu.x AS g FROM grams, unnest(g) AS gu(x)
               WHERE doc_id % $BenchMod = $BenchRem),
             corpus AS (
               SELECT DISTINCT doc_id, gu.x AS g FROM grams, unnest(g) AS gu(x)
               WHERE doc_id % $BenchMod != $BenchRem),
             contam AS (
               SELECT c.doc_id FROM corpus c JOIN bench b ON c.g = b.g
               GROUP BY c.doc_id HAVING count(*) >= $DecontamMinHits)
             SELECT d.doc_id, d.lang, d.source
             FROM documents d
             WHERE d.doc_id % $BenchMod != $BenchRem
               AND d.doc_id NOT IN (SELECT doc_id FROM contam)
             ORDER BY d.doc_id""")
  )

  /** Repetition thresholds (tuned on the fixture distributions so the
    * flag splits the corpus non-trivially; production values are
    * corpus-dependent — Gopher used e.g. top-2-gram fraction > 0.18). */
  private val TopTokMax = 0.15
  private val DistinctMin = 0.35
  private val TopBigramMax = 0.10

  /** Gopher-style repetition metrics per document: distinct-token ratio,
    * top-token fraction, top-bigram fraction, plus a composite
    * `repetitive` flag. Repetitious boilerplate (nav bars, spam keyword
    * stuffing) is the #1 quality cut in web-scale corpora.
    *
    * Scale shape: explode → two-level hash aggregate — the first level
    * keys (doc_id, term) and combines map-side, the second reduces to one
    * row per doc. Every ratio is a single IEEE division of exact integer
    * counts, so threshold comparisons are bit-stable across engines. */
  /** Per-doc repetition metric frame (unordered), shared by
    * llm_quality_repetition and llm_curate. Docs with no bigram (1-token)
    * drop here in both engines — curate's LEFT join treats them as
    * non-repetitive. */
  private[graft] def repetitionMetrics(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    repetitionMetricsOver(s, Tables.documents(s, dir))

  /** The same per-doc metrics over an arbitrary docs frame — the form a
    * micro-batch scores (stream_curate): repetition is a pure function
    * of one document, so computing it over the batch alone is exact. */
  private[graft] def repetitionMetricsOver(s: SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val toksArr = docs
      .select($"doc_id", TF.tokens($"text").as("w"))
      .cache() // token and bigram branches both read it
    val tokStats = toksArr.select($"doc_id", explode($"w").as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_distinct"),
           max($"c").as("top_tok"))
    // Bigram MULTISET (no distinct — repetition is about repeats). The
    // when() guard keeps sequence() off the size=1 case, where
    // sequence(0, -1) would DESCEND and the i = -1 slice throws; a
    // 1-token doc emits no bigrams (matching the oracle's range(1,1) =
    // empty) and so drops from the joined output in both engines.
    val biStats = toksArr
      .select($"doc_id", explode(
        when(size($"w") >= 2, transform(sequence(lit(0), size($"w") - 2),
          i => concat_ws(" ", slice($"w", i + lit(1), lit(2)))))
          .otherwise(array())).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_bigrams"), max($"c").as("top_bg"))
    tokStats.join(biStats, "doc_id")
      .select($"doc_id", $"n_tokens",
        round($"n_distinct".cast("double") / $"n_tokens", 4).as("distinct_ratio"),
        round($"top_tok".cast("double") / $"n_tokens", 4).as("top_token_ratio"),
        round($"top_bg".cast("double") / $"n_bigrams", 4).as("top_bigram_ratio"),
        ($"top_tok".cast("double") / $"n_tokens" >= TopTokMax ||
         $"n_distinct".cast("double") / $"n_tokens" <= DistinctMin ||
         $"top_bg".cast("double") / $"n_bigrams" >= TopBigramMax).as("repetitive"))
  }

  val repetition: GraftQuery = GraftQuery(
    "llm_quality_repetition",
    (s, dir) => {
      import s.implicits._
      repetitionMetrics(s, dir).orderBy($"doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             tc AS (SELECT doc_id, tok, count(*) AS c
                    FROM (SELECT doc_id, unnest(w) AS tok FROM t) GROUP BY 1, 2),
             ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                           count(*) AS n_distinct, max(c) AS top_tok
                    FROM tc GROUP BY 1),
             bgr AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
                              i -> array_to_string(w[i:i+1], ' '))) AS bg
                     FROM t),
             bc AS (SELECT doc_id, bg, count(*) AS c FROM bgr GROUP BY 1, 2),
             bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                           max(c) AS top_bg
                    FROM bc GROUP BY 1)
             SELECT ts.doc_id, ts.n_tokens,
                    (round(ts.n_distinct * 1.0 / ts.n_tokens, 4) + 0.0) AS distinct_ratio,
                    (round(ts.top_tok * 1.0 / ts.n_tokens, 4) + 0.0) AS top_token_ratio,
                    (round(bs.top_bg * 1.0 / bs.n_bigrams, 4) + 0.0) AS top_bigram_ratio,
                    (ts.top_tok * 1.0 / ts.n_tokens >= $TopTokMax OR
                     ts.n_distinct * 1.0 / ts.n_tokens <= $DistinctMin OR
                     bs.top_bg * 1.0 / bs.n_bigrams >= $TopBigramMax) AS repetitive
             FROM ts JOIN bs USING (doc_id) ORDER BY ts.doc_id""")
  )

  /** Within-corpus duplicated-substring coverage (the substring-dedup
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): for each document, how many of its 8-grams occur in
    * at least one OTHER document, and what fraction of its tokens those
    * duplicated 8-grams cover. Pipelines cut or trim documents whose
    * coverage exceeds a threshold — boilerplate and templated text light
    * up here long before whole-document dedup fires.
    *
    * Scale shape: grams reduce to (doc, pos, gram-hash) map-side; the
    * duplicated-gram set is one hash aggregate on the gram key (count of
    * distinct source docs > 1), and occurrences join back by gram hash —
    * an equi-join against a set bounded by actual duplication, not corpus
    * size. Token coverage explodes each duplicated occurrence to its ≤8
    * covered positions — output rows ∝ duplicated grams × 8, never
    * |corpus| × |corpus|. */
  val substringDup: GraftQuery = GraftQuery(
    "llm_dedup_substring",
    (s, dir) => {
      import s.implicits._
      // Position-ordered hashed grams from the native expression — no
      // gram strings ever materialize (concat_ws + xxhash64 of the string
      // measured ~2x the map-side cost at sf0.1); `pos` is the gram's
      // token offset, which the coverage explode below depends on. Docs
      // shorter than the gram order are skipped (no full 8-gram exists —
      // and the expression's partial shingle would otherwise claim 8
      // covered positions in a shorter doc). The CACHE holds the compact
      // pre-explode signature rows; the dup-gram aggregate and the
      // occurrence join each explode their own copy, so the hash pass
      // runs once and memory stays O(docs), not O(grams).
      val sigs = Tables.documents(s, dir)
        .select($"doc_id", TF.tokens($"text").as("w"))
        .filter(size($"w") >= ContamN)
        .select($"doc_id", size($"w").cast("long").as("n_toks"),
          graft.functions.ArrayFunctions.positionalShingles(s, $"w", ContamN)
            .as("ghs"))
        .cache()
      val grams = sigs.select($"doc_id", $"n_toks",
        posexplode($"ghs").as(Seq("pos", "gh")))
      val dup = grams.groupBy($"gh")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" > 1).select($"gh")
      val occ = grams.join(dup, "gh")
      // ONE aggregate per doc: stats ride declarative folds, and token
      // coverage is an in-row interval-union sweep over the sorted dup
      // positions — [p, p+8) spans merged left to right, each position
      // contributing the part past the previous span's end. This
      // replaces the first cut's explode(×8) → corpus-wide DISTINCT →
      // re-join (two extra shuffles and 8× the rows through the wire);
      // per-doc position lists are bounded by doc length, so the
      // ObjectHashAggregate buffer is small and the sweep is O(m). */
      val sweep = aggregate(
        sort_array(collect_list($"pos")),
        struct(lit(0L).as("covered"), lit(-1L).as("end")),
        (acc, p0) => {
          val p = p0.cast("long")
          struct(
            (acc.getField("covered") +
              greatest(lit(0L),
                p + ContamN - greatest(p, acc.getField("end")))).as("covered"),
            greatest(acc.getField("end"), p + ContamN).as("end"))
        },
        acc => acc.getField("covered"))
      occ.groupBy($"doc_id")
        .agg(max($"n_toks").as("n_toks"), count(lit(1)).as("n_dup_grams"),
          sweep.as("covered"))
        .select($"doc_id", $"n_toks", $"n_dup_grams", $"covered",
          round($"covered".cast("double") / $"n_toks", 4).as("dup_coverage"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             gr AS (SELECT doc_id, len(w) AS n_toks, i - 1 AS pos,
                           array_to_string(w[i:i+${ContamN - 1}], ' ') AS g
                    FROM t, unnest(range(1, greatest(len(w) - ${ContamN - 2}, 1))) u(i)),
             dup AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
                                    FROM gr GROUP BY g) WHERE nd > 1),
             occ AS (SELECT doc_id, n_toks, pos FROM gr JOIN dup USING (g)),
             stats AS (SELECT doc_id, max(n_toks) AS n_toks,
                              count(*) AS n_dup_grams
                       FROM occ GROUP BY doc_id),
             cov AS (SELECT DISTINCT doc_id, p
                     FROM occ, unnest(range(pos, pos + $ContamN)) r(p)),
             covc AS (SELECT doc_id, count(*) AS covered FROM cov GROUP BY doc_id)
             SELECT s.doc_id, s.n_toks, s.n_dup_grams, c.covered,
                    (round(c.covered * 1.0 / s.n_toks, 4) + 0.0) AS dup_coverage
             FROM stats s JOIN covc c USING (doc_id) ORDER BY s.doc_id""")
  )

  /** Paragraph-chunk width for span-level dedup: 8 tokens plays the role
    * of CCNet's paragraph / C4's three-sentence span on the tokenized
    * fixture (only the segmentation rule moves at production scale). */
  private[graft] val ParaW = 8

  /** Span-level dedup with text REASSEMBLY — the removal act that follows
    * the llm_dedup_substring signal (CCNet dedups at paragraph level,
    * C4 drops any three-sentence span seen before; this is that operator
    * on the tokenized fixture): segment each doc into disjoint `ParaW`-token
    * chunks, drop every chunk whose exact text occurs in ≥2 distinct docs,
    * and rebuild the surviving text in original order. Boilerplate
    * (headers, navboxes, license blocks) disappears from every copy while
    * each document's unique prose survives — strictly finer-grained than
    * whole-doc dedup.
    *
    * Scale shape: chunks reduce map-side to (doc, idx, chunk); the
    * boilerplate set is ONE hash aggregate on xxhash64(chunk) (count of
    * distinct docs ≥ 2 — fixed-width shuffle keys, chunk text never
    * shuffles for the count); flagging is an equi-join on the hash; the
    * reassembly is one per-doc hash aggregate whose collect_list carries
    * only surviving chunk text — output-bounded, like any text-rewrite
    * must be. Nothing is all-pairs; no window, no sort beyond the in-group
    * array_sort on chunk index. 64-bit chunk hashing admits birthday
    * collisions near ~2^32 distinct chunks; a collision can only
    * over-DROP (conservative for boilerplate removal) — at larger scale
    * widen to the 128-bit digest llm_dedup_exact uses. */
  val paragraphDedup: GraftQuery = GraftQuery(
    "llm_dedup_paragraph",
    (s, dir) => {
      import s.implicits._
      // The size>=1 guard is the sequence-descend trap (docBigrams): an
      // empty token array would make sequence(0, -1) emit [0, -1].
      val chunks = Tables.documents(s, dir)
        .select($"doc_id", TF.tokens($"text").as("w"))
        .select($"doc_id", posexplode(
          when(size($"w") >= 1, expr(
            s"""transform(sequence(0, CAST(ceil(size(w) / ${ParaW}.0D) AS INT) - 1),
                          i -> array_join(slice(w, i * $ParaW + 1, $ParaW), ' '))"""))
            .otherwise(expr("array()"))).as(Seq("idx", "chunk")))
        .withColumn("ch", xxhash64($"chunk"))
      val boiler = chunks.groupBy($"ch")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" >= 2)
        .select($"ch").withColumn("dup", lit(true))
      chunks.join(boiler, Seq("ch"), "left")
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when($"dup", 1L).otherwise(0L)).as("n_dropped"),
          array_join(
            transform(
              array_sort(collect_list(when($"dup".isNull, struct($"idx", $"chunk")))),
              c => c.getField("chunk")),
            " ").as("clean_text"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             chunks AS (
               SELECT doc_id, i AS idx,
                      array_to_string(w[(i * $ParaW + 1):(i * $ParaW + $ParaW)], ' ') AS chunk
               FROM t, unnest(range(CAST(ceil(len(w) / ${ParaW}.0) AS BIGINT))) u(i)),
             boiler AS (
               SELECT chunk FROM chunks
               GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2)
             SELECT c.doc_id,
                    count(*) AS n_chunks,
                    CAST(sum(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_dropped,
                    coalesce(string_agg(CASE WHEN b.chunk IS NULL THEN c.chunk END,
                                        ' ' ORDER BY c.idx), '') AS clean_text
             FROM chunks c LEFT JOIN boiler b USING (chunk)
             GROUP BY c.doc_id ORDER BY c.doc_id""")
  )

  /** TF-IDF top-3 terms per document (ln idf, tf normalized by doc
    * length). The classic "what is this document about" profile; also the
    * standard weighting for sparse retrieval baselines next to the dense
    * ANN operators in [[Similarity]].
    *
    * Scale shape: one (doc, term) hash aggregate feeds both the per-doc
    * length and the per-term document frequency; the scoring join keys
    * (doc_id) then (tok) — both plain equi-joins. The corpus size is a
    * 1-row aggregate attached by broadcast, never collected. Ranking
    * orders by round(tfidf, 6) with a term tie-break so rank boundaries
    * cannot flip on cross-engine ulp differences in ln. */
  val tfidf: GraftQuery = GraftQuery(
    "llm_tfidf",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val tc = docs.select($"doc_id", explode(TF.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
        .cache() // feeds doc length, document frequency, AND the scoring join
      val dl = tc.groupBy($"doc_id").agg(sum($"c").as("n_tokens"))
      val dfreq = tc.groupBy($"tok").agg(count(lit(1)).as("df"))
      val scored = tc.join(dl, "doc_id").join(dfreq, "tok")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          $"c".cast("double") / $"n_tokens" *
            log($"n_docs".cast("double") / $"df"))
      scored
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"doc_id").orderBy(round($"tfidf", 6).desc, $"tok".asc)))
        .filter($"rnk" <= 3)
        .select($"doc_id", $"rnk", $"tok", round($"tfidf", 4).as("tfidf"))
        .orderBy($"doc_id", $"rnk")
    },
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                       FROM documents),
            tc AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
            dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens
                   FROM tc GROUP BY 1),
            dfq AS (SELECT tok, count(*) AS df FROM tc GROUP BY 1),
            nd AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT tc.doc_id, tc.tok,
                     tc.c * 1.0 / dl.n_tokens * ln(nd.n_docs * 1.0 / dfq.df) AS tfidf
              FROM tc JOIN dl USING (doc_id) JOIN dfq USING (tok) CROSS JOIN nd),
            ranked AS (
              SELECT doc_id, tok, tfidf,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY round(tfidf, 6) DESC, tok ASC) AS rnk
              FROM scored)
            SELECT doc_id, CAST(rnk AS INT) AS rnk, tok, (round(tfidf, 4) + 0.0) AS tfidf
            FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""")
  )

  /** Minimum composite quality score a kept doc needs (llm_quality's
    * "medium" boundary). */
  private[graft] val QualityMin = 0.5

  /** Reference-domain slice the bigram LM trains on: in production this is
    * the high-quality target corpus (CCNet scores Common Crawl under a
    * Wikipedia-trained LM); here src0 plays that role — 1/20th of the
    * corpus, so most scored docs are out-of-domain for the LM, which is
    * exactly the operating point the filter is built for. (Declared before
    * `curate`, which interpolates it into its oracle — object-init order.) */
  private[graft] val PplRefSource = "src0"

  /** Maximum per-doc NLL under the reference bigram LM for a curated
    * keep (the CCNet perplexity-bucket boundary): ≈ the fixture's 93rd
    * percentile — the signal genuinely rejects the out-of-domain tail
    * (8 of the 212 otherwise-kept docs at sf0.01, measured) without
    * gutting the corpus. */
  private[graft] val PplMax = 3.65

  /** Minimum distilled-classifier score (llm_quality_classifier's
    * p_keep) for a curated keep — the SEVENTH keep signal. The floor
    * sits below the classifier's own 0.5 decision boundary: at 0.5 the
    * classifier would re-litigate 89 of the 204 otherwise-kept docs at
    * sf0.01 (it and the heuristic score disagree in the mid-band, by
    * design — they are different models), while 0.45 ≈ the corpus 5th
    * percentile rejects exactly the classifier's low-confidence tail
    * (3 of 204 otherwise-kept docs, measured) — the production pattern
    * of composing quality models at different operating points. */
  private[graft] val ClfMin = 0.45

  /** END-TO-END CURATION — the composed keep-list a training run actually
    * consumes, in ONE call: keep a doc iff it (a) is not an eval-set
    * member, (b) is not heavily benchmark-contaminated, (c) is not
    * repetitive, (d) scores at least QualityMin, (e) scores at most
    * PplMax NLL under the frozen reference LM, (f) clears the distilled
    * classifier's ClfMin floor, and (g) if it sits in a near-dup
    * cluster, is that cluster's highest-quality keeper. Every stage is
    * the corresponding standalone operator reused verbatim
    * (contaminatedIds, repetitionMetrics, scoredDocs, perplexityScores,
    * TextStats.classifierScores, fullLabels, clusterKeepers), so this
    * query is the proof the engine's curation operators compose.
    *
    * Scale shape: one pass over documents; the repetition, score, and
    * NLL frames join back by doc_id as shuffle_hash on the SAME key, so
    * the exchange is planned once and reused; cluster labels arrive
    * exchange-free from the v-bucketed persisted layout; keepers join by
    * cluster id shuffle_hash (O(clusters) — possibly huge, never
    * broadcast); only the contaminated-id set — tiny by its ≥20-hit
    * threshold — broadcasts into the anti join. */
  /** The curation join chain over an arbitrary docs frame: the per-doc
    * signals (repetition, quality score, classifier) compute OVER the
    * frame itself; the per-dataset artifacts (contaminated-id set,
    * cluster labels, keepers) and the `nll` score frame come in as
    * parameters. Shared by llm_curate (frame = whole corpus, nll = the
    * persisted NLL layout, keepers computed in-query) and stream_curate
    * (frame = one micro-batch, nll = the batch scored against the
    * frozen LM, keepers frozen once before the stream) — the reuse IS
    * the batching-invariance argument: every conjunct is per-doc pure
    * or a join against frozen per-dataset state. */
  private[graft] def curateBatch(s: SparkSession, dir: String,
      batch: org.apache.spark.sql.DataFrame,
      nll: org.apache.spark.sql.DataFrame,
      keepers: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val labels = Dedup.fullLabels(s, dir).withColumnRenamed("v", "doc_id")
    batch
      .filter($"doc_id" % BenchMod =!= BenchRem)
      .join(broadcast(contaminatedIds(s, dir)), Seq("doc_id"), "left_anti")
      .join(repetitionMetricsOver(s, batch).select($"doc_id", $"repetitive")
              .hint("shuffle_hash"), Seq("doc_id"), "left")
      .filter(!coalesce($"repetitive", lit(false)))
      .join(TextStats.scoredDocsOver(batch).hint("shuffle_hash"), Seq("doc_id"))
      .filter($"score" >= QualityMin)
      .join(nll.select($"doc_id", $"nll")
              .hint("shuffle_hash"), Seq("doc_id"))
      .filter($"nll" <= PplMax)
      .join(TextStats.classifierScores(batch)
              .select($"doc_id", $"p_keep").hint("shuffle_hash"), Seq("doc_id"))
      .filter($"p_keep" >= ClfMin)
      .join(labels, Seq("doc_id"), "left")
      .join(keepers.select($"cluster_id".as("cid"), $"keeper_id")
              .hint("shuffle_hash"), Seq("cid"), "left")
      .filter($"cid".isNull || $"doc_id" === $"keeper_id")
      .select($"doc_id", $"lang", $"score")
  }

  /** The composed curate oracle — shared verbatim with stream_curate
    * (batching must not change one kept row). Declared before the
    * GraftQuery vals that capture it (the forward-ref trap). */
  private[graft] val curateOracle: String =
    s"""WITH RECURSIVE grams AS (
               SELECT doc_id,
                      list_distinct(list_transform(range(1, greatest(len(w) - ${ContamN - 2}, 1)),
                        i -> array_to_string(w[i:i+${ContamN - 1}], ' '))) AS g
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
             bench AS (
               SELECT DISTINCT gu.x AS g FROM grams, unnest(g) AS gu(x)
               WHERE doc_id % $BenchMod = $BenchRem),
             corp AS (
               SELECT DISTINCT doc_id, gu.x AS g FROM grams, unnest(g) AS gu(x)
               WHERE doc_id % $BenchMod != $BenchRem),
             contam AS (
               SELECT c.doc_id FROM corp c JOIN bench b ON c.g = b.g
               GROUP BY c.doc_id HAVING count(*) >= $DecontamMinHits),
             t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             tc AS (SELECT doc_id, tok, count(*) AS c
                    FROM (SELECT doc_id, unnest(w) AS tok FROM t) GROUP BY 1, 2),
             ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                           count(*) AS n_distinct, max(c) AS top_tok
                    FROM tc GROUP BY 1),
             bgr AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
                              i -> array_to_string(w[i:i+1], ' '))) AS bg
                     FROM t),
             bc AS (SELECT doc_id, bg, count(*) AS c FROM bgr GROUP BY 1, 2),
             bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                           max(c) AS top_bg
                    FROM bc GROUP BY 1),
             rep AS (SELECT ts.doc_id,
                            (ts.top_tok * 1.0 / ts.n_tokens >= $TopTokMax OR
                             ts.n_distinct * 1.0 / ts.n_tokens <= $DistinctMin OR
                             bs.top_bg * 1.0 / bs.n_bigrams >= $TopBigramMax) AS repetitive
                     FROM ts JOIN bs USING (doc_id)),
             q AS (SELECT doc_id, ${TextStats.scoreSql} AS score FROM documents),
             shg AS (
               SELECT doc_id,
                      list_distinct(list_transform(range(1, greatest(len(w) - 1, 1)),
                        i -> array_to_string(w[i:i+2], ' '))) AS s
               FROM t),
             shpost AS (SELECT doc_id, unnest(s) AS g FROM shg),
             shsz AS (SELECT doc_id, len(s) AS n FROM shg),
             shint AS (SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS c
                       FROM shpost a JOIN shpost b
                         ON a.g = b.g AND a.doc_id < b.doc_id
                       GROUP BY 1, 2),
             prs AS (
               SELECT u, v FROM shint
               JOIN shsz sa ON sa.doc_id = u JOIN shsz sb ON sb.doc_id = v
               WHERE CAST(c AS DOUBLE)
                     / CAST(sa.n + sb.n - c AS DOUBLE) >= ${Dedup.Tau}),
             edges AS (SELECT u, v FROM prs UNION SELECT v, u FROM prs),
             reach(v, r) AS (
               SELECT u, u FROM edges
               UNION
               SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.v),
             comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
             jj AS (
               SELECT comp.cluster_id, comp.doc_id,
                      row_number() OVER (PARTITION BY comp.cluster_id
                        ORDER BY q.score DESC, comp.doc_id ASC) AS rn
               FROM comp JOIN q USING (doc_id)),
             keep AS (SELECT cluster_id, doc_id AS keeper_id FROM jj WHERE rn = 1),
             pt AS (SELECT doc_id, source, string_split(text, ' ') AS w
                    FROM documents),
             pbg AS (SELECT doc_id, source, w[i] AS w1, w[i+1] AS w2
                     FROM pt, unnest(range(1, len(w))) u(i)),
             pbc AS (SELECT w1, w2, count(*) AS cb FROM pbg
                     WHERE source = '$PplRefSource' GROUP BY 1, 2),
             puc AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw1
                     FROM pbc GROUP BY 1),
             pv AS (SELECT count(DISTINCT w2) + 1 AS v
                    FROM pbg WHERE source = '$PplRefSource'),
             pdb AS (SELECT doc_id, w1, w2, count(*) AS c
                     FROM pbg GROUP BY 1, 2, 3),
             psc AS (SELECT d.doc_id, d.c,
                            coalesce(pbc.cb, 0) AS cb, coalesce(puc.cw1, 0) AS cw1
                     FROM pdb d
                     LEFT JOIN pbc USING (w1, w2)
                     LEFT JOIN puc USING (w1)),
             ppl AS (SELECT doc_id,
                            (round(-sum(ln((cb + 1) * 1.0 / (cw1 + pv.v)) * c)
                                  / sum(c), 4) + 0.0) AS nll
                     FROM psc CROSS JOIN pv GROUP BY doc_id),
             ${TextStats.classifierCtes}
             SELECT d.doc_id, d.lang, q.score
             FROM documents d
             JOIN q USING (doc_id)
             JOIN ppl USING (doc_id)
             JOIN clf USING (doc_id)
             LEFT JOIN rep USING (doc_id)
             LEFT JOIN comp USING (doc_id)
             LEFT JOIN keep ON comp.cluster_id = keep.cluster_id
             WHERE d.doc_id % $BenchMod != $BenchRem
               AND d.doc_id NOT IN (SELECT doc_id FROM contam)
               AND NOT coalesce(rep.repetitive, false)
               AND q.score >= $QualityMin
               AND ppl.nll <= $PplMax
               AND clf.p_keep >= $ClfMin
               AND (comp.cluster_id IS NULL OR d.doc_id = keep.keeper_id)
             ORDER BY d.doc_id"""

  /** The PERSISTED curated keep-list (doc_id, lang, score) — the composed
    * curation verdict as a per-dataset artifact under the Layouts
    * fingerprint protocol, like the frozen LM and the per-doc NLLs. A
    * curated corpus snapshot is exactly the thing a training run consumes
    * repeatedly (every epoch, every downstream stat), so recomputing the
    * seven-signal composition per consumer is the wrong recurring shape:
    * build once, serve scans. llm_curate and llm_dataset_card both read
    * this (round-8 verdict item 2 — the card was the one curate consumer
    * still re-running the composition). The fingerprint covers every
    * column a signal derives from: text (quality/dedup/contamination),
    * source (the LM's training slice), lang (carried into the output). */
  private[graft] def curatedKeepList(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    // The meta leads with the scoring version: the keep-list is filtered
    // on quality scores, so a score change must rebuild it even when the
    // documents are unchanged.
    Layouts.parquet(s, Layouts.pathOf("keep", dir), s"$KeepListVersion:" +
        Layouts.fingerprint(Tables.documents(s, dir), "doc_id", "text", "source", "lang")) {
      curateBatch(s, dir, Tables.documents(s, dir),
          perplexityScores(s, dir), Dedup.clusterKeepers(s, dir))
    }
  }

  /** Version of the signals stored in the keep-list; bump it when a
    * signal's formula changes. v2: exact integer half-up quality score. */
  private final val KeepListVersion = "keep-v2"

  val curate: GraftQuery = GraftQuery(
    "llm_curate",
    (s, dir) => {
      import s.implicits._
      curatedKeepList(s, dir).orderBy($"doc_id")
    },
    Some(curateOracle)
  )

  /** DuckDB side of both perplexity forms (the streaming emulation grades
    * against the identical SQL — batching must not change one score).
    * Declared BEFORE the GraftQuery vals that capture it: a forward
    * reference inside an object is null at initialization time. */
  private[graft] val pplOracle: String =
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
                        FROM documents),
             bg AS (SELECT doc_id, source, w[i] AS w1, w[i+1] AS w2
                    FROM t, unnest(range(1, len(w))) u(i)),
             ref AS (SELECT w1, w2 FROM bg WHERE source = '$PplRefSource'),
             bc AS (SELECT w1, w2, count(*) AS cb FROM ref GROUP BY 1, 2),
             uc AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw1 FROM bc GROUP BY 1),
             v AS (SELECT count(DISTINCT w2) + 1 AS v FROM ref),
             db AS (SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
             sc AS (SELECT d.doc_id, d.c,
                           coalesce(bc.cb, 0) AS cb, coalesce(uc.cw1, 0) AS cw1
                    FROM db d
                    LEFT JOIN bc USING (w1, w2)
                    LEFT JOIN uc USING (w1))
             SELECT doc_id,
                    CAST(sum(c) AS BIGINT) AS n_bigrams,
                    CAST(sum(CASE WHEN cb = 0 THEN c ELSE 0 END) AS BIGINT) AS n_unseen,
                    (round(-sum(ln((cb + 1) * 1.0 / (cw1 + v.v)) * c) / sum(c), 4) + 0.0) AS nll
             FROM sc CROSS JOIN v
             GROUP BY doc_id ORDER BY doc_id"""

  /** CCNet-style LM quality scoring: train an add-one-smoothed bigram
    * language model on the reference domain, score every document by its
    * average negative log-likelihood under that model (low = in-domain
    * fluent text, high = out-of-domain / garbled — the classic
    * perplexity-bucket filter for web corpora). CCNet uses a 5-gram KenLM;
    * the dataflow is order-independent (only the gram width and the
    * smoothing constant move) and a bigram keeps the oracle exact.
    *
    * Scale shape: the LM is vocabulary-bounded state, NEVER broadcast —
    * C(w1,w2) at web scale is billions of rows. Documents reduce map-side
    * to (doc_id, w1, w2, c) partial counts (one hash aggregate), then two
    * equi-joins attach the bigram and backoff-denominator counts —
    * shuffle_hash on (w1,w2), then on w1, the tfidf two-key pattern. Both
    * LM tables partial-aggregate map-side before their shuffle. The only
    * broadcast is the 1-row smoothing vocabulary size. Zipf-hot w1 keys
    * (function words) are AQE skew-split territory, same as every term
    * join in this file.
    *
    * Determinism: integer counts everywhere until the final ln; the
    * per-doc sum of ~doc-length ln terms carries ~1e-13 association
    * error, absorbed by round(4) (the tfidf precedent). Unseen bigrams
    * (cb=0) and unseen first-words (cw1=0) are both well-defined under
    * add-one smoothing — the left joins coalesce to 0, nothing drops. */
  val perplexity: GraftQuery = GraftQuery(
    "llm_perplexity",
    (s, dir) => {
      import s.implicits._
      perplexityScores(s, dir).orderBy($"doc_id")
    },
    Some(pplOracle)
  )

  /** (doc_id, source, w1, w2) — one row per consecutive token pair of
    * every document in `docs`; the map-side reduction both perplexity
    * forms start from. The size>=2 guard matches repetitionMetrics (and
    * the oracle's range(1, len) = empty): an unguarded sequence(1, 0)
    * DESCENDS to [1, 0] and would emit two null-token rows per 1-token
    * doc — polluting the persisted LM counts and assigning NLLs to docs
    * the oracle excludes. */
  private[graft] def docBigrams(s: SparkSession,
                                docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    docs
      .select($"doc_id", $"source", TF.tokens($"text").as("w"))
      .select($"doc_id", $"source",
        explode(when(size($"w") >= 2, expr(
          "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"))
          .otherwise(expr("array()")))
          .as("b"))
      .select($"doc_id", $"source", $"b.w1", $"b.w2")
  }

  /** The FROZEN LM — reference-slice bigram counts (w1, w2, cb), persisted
    * once per dataset under the Layouts fingerprint protocol and re-read
    * by every scoring pass (CCNet trains its KenLM once and scores the
    * whole crawl against the frozen artifact; this is that artifact).
    * Counts are integers, so a rebuild is bit-identical — persistence here
    * buys the recurring-cost shape (score O(batch), never re-train), not
    * determinism. The denominator roll-up and smoothing vocabulary are
    * DERIVED from this table (sum cb by w1; distinct w2 + 1), so one
    * layout carries the whole model. */
  private[graft] def lmCounts(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Layouts.parquet(s, Layouts.pathOf("lm", dir, "bigram"),
        Layouts.fingerprint(Tables.documents(s, dir), "doc_id", "text", "source")) {
      docBigrams(s, Tables.documents(s, dir))
        .filter($"source" === PplRefSource)
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    }
  }

  /** The frozen LM's three materialized pieces: bigram counts (w1, w2,
    * cb), the per-w1 denominator roll-up (w1, cw1), and the 1-row
    * smoothing vocabulary. */
  private[graft] final case class LmModel(
      bc: org.apache.spark.sql.DataFrame,
      uc: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame)

  /** The frozen LM, FULLY materialized: round 8 found the denominator
    * roll-up (GROUP BY w1 over the whole LM) and the smoothing
    * vocabulary being re-derived on EVERY scoring call — once per
    * micro-batch in the streaming forms. At web scale the LM is
    * billions of bigram rows, so those per-batch roll-ups are a real
    * recurring cost that the frozen-artifact discipline says belongs in
    * the artifact: a trained model ships WITH its normalization
    * constants. All three pieces persist under one fingerprint (the
    * roll-ups derive deterministically from the counts, so one meta
    * stamp covers the set). */
  private[graft] def lmModel(s: SparkSession, dir: String): LmModel = {
    import s.implicits._
    val uPath = Layouts.pathOf("lm", dir, "unigram")
    val vPath = Layouts.pathOf("lm", dir, "vocab")
    Layouts.persisted(uPath,
        Layouts.fingerprint(Tables.documents(s, dir), "doc_id", "text", "source")) {
      val bc = lmCounts(s, dir)
      bc.groupBy($"w1").agg(sum($"cb").as("cw1"))
        .write.mode("overwrite").parquet(uPath)
      bc.agg((countDistinct($"w2") + 1L).as("v"))
        .write.mode("overwrite").parquet(vPath)
    }
    LmModel(lmCounts(s, dir), s.read.parquet(uPath), s.read.parquet(vPath))
  }

  /** Score a frame of (doc_id, source, w1, w2) bigram rows against the
    * frozen LM: (doc_id, n_bigrams, n_unseen, nll), unordered. Pure
    * per-document against static model state — no cross-batch dependence,
    * which is what makes the streaming form's union-of-batches equal the
    * whole-corpus pass. All model pieces come pre-materialized from the
    * layout (lmModel); a scoring pass does NO LM-sized aggregation. */
  private[graft] def scoreBigrams(s: SparkSession,
                                  bg: org.apache.spark.sql.DataFrame,
                                  lm: LmModel): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // Per-doc bigram multiset, pre-aggregated so the scoring joins move
    // (doc, w1, w2, c) rows — repeated bigrams join once, weighted by c.
    val db = bg.groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("c"))
    db
      .join(lm.bc.hint("shuffle_hash"), Seq("w1", "w2"), "left")
      .join(lm.uc.hint("shuffle_hash"), Seq("w1"), "left")
      .crossJoin(broadcast(lm.vocab))
      .withColumn("cb0", coalesce($"cb", lit(0L)))
      .withColumn("cw10", coalesce($"cw1", lit(0L)))
      .withColumn("lp",
        log(($"cb0" + 1L).cast("double") / ($"cw10" + $"v").cast("double")))
      .groupBy($"doc_id")
      .agg(
        sum($"c").as("n_bigrams"),
        sum(when($"cb0" === 0L, $"c").otherwise(0L)).as("n_unseen"),
        round(-sum($"lp" * $"c") / sum($"c"), 4).as("nll"))
  }

  /** (doc_id, n_bigrams, n_unseen, nll) for every document — the
    * llm_perplexity dataflow as a composable curation signal (unordered;
    * the registered query adds the total-order sort, composers join it by
    * doc_id like repetitionMetrics / scoredDocs). Reads the persisted LM
    * layout, and is itself PERSISTED (round 8): per-doc NLL against a
    * frozen LM is deterministic per dataset, and both llm_perplexity and
    * llm_curate consume it — one scoring pass per dataset, not one per
    * consumer. The fingerprint covers text AND source because the LM is
    * trained on the source slice. */
  private[graft] def perplexityScores(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    Layouts.parquet(s, Layouts.pathOf("nll", dir),
        Layouts.fingerprint(Tables.documents(s, dir), "doc_id", "text", "source")) {
      scoreBigrams(s, docBigrams(s, Tables.documents(s, dir)), lmModel(s, dir))
    }
  }

  /** BM25 ranked retrieval — the lexical scoring function behind every
    * production keyword search (Lucene/Elasticsearch default), over the
    * corpus as a Spark pipeline: for a fixed query term set, score each
    * document Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with the
    * Robertson/Sparck-Jones idf ln((N−df+0.5)/(df+0.5)+1), k1=1.2,
    * b=0.75, and return the top 20.
    *
    * Scale shape: tokens explode once but are FILTERED TO THE QUERY
    * TERMS before any aggregation, so the per-(doc, term) tf table is
    * ∝ docs × |query|, never corpus token volume; df + the corpus
    * constants (N, avgdl) reduce to a |query|-row frame plus one scalar
    * row, both broadcast into the scoring join; the per-doc score is one
    * hash aggregate. Doc lengths ride the same tokenization pass. The
    * idf/score transcendentals (ln) hit rank ordering only through the
    * ROUNDED score with a doc_id tiebreak (the llm_sim_range rule).
    * At 100 TB this is the query-serving half of an inverted index:
    * df/avgdl are corpus statistics maintained incrementally, and the
    * tf filter is what the posting-list scan does. */
  val bm25: GraftQuery = GraftQuery(
    "llm_bm25",
    (s, dir) => {
      import s.implicits._
      val terms = Seq("spark", "join", "vector", "stream")
      val docs = Tables.documents(s, dir)
        .select($"doc_id", split(lower($"text"), " ").as("toks"))
        .withColumn("dl", size($"toks").cast("double"))
      val stats = broadcast(docs.agg(
        count(lit(1)).cast("double").as("n_docs"), avg($"dl").as("avgdl")))
      val tf = docs
        .select($"doc_id", $"dl", explode($"toks").as("tok"))
        .filter($"tok".isin(terms: _*))
        .groupBy($"doc_id", $"dl", $"tok")
        .agg(count(lit(1)).cast("double").as("tf"))
      val idf = broadcast(tf.groupBy($"tok")
        .agg(countDistinct($"doc_id").cast("double").as("df")))
      tf.join(idf, Seq("tok"))
        .crossJoin(stats)
        .withColumn("contrib",
          log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) *
            ($"tf" * 2.2) /
            ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")))
        .groupBy($"doc_id")
        .agg(round(sum($"contrib"), 4).as("score"))
        .orderBy($"score".desc, $"doc_id")
        .limit(20)
    },
    Some("""WITH docs AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks,
                     CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
              FROM documents),
            stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
                      FROM docs),
            tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS DOUBLE) AS tf
                   FROM docs, unnest(toks) u(tok)
                   WHERE tok IN ('spark', 'join', 'vector', 'stream')
                   GROUP BY 1, 2, 3),
            idf AS (SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                    FROM tf GROUP BY 1)
            SELECT doc_id,
                   (round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
                             (tf * 2.2) /
                             (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) + 0.0) AS score
            FROM tf JOIN idf USING (tok) CROSS JOIN stats
            GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""")
  )

  /** (doc_id, source, w1, w2, w3) — one row per consecutive token triple;
    * the trigram analogue of docBigrams with the same short-doc guard
    * (size>=3 ⇔ the oracle's range(1, len-1) = empty below 3 tokens). */
  private[graft] def docTrigrams(s: SparkSession,
                                 docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    docs
      .select($"doc_id", $"source", TF.tokens($"text").as("w"))
      .select($"doc_id", $"source",
        explode(when(size($"w") >= 3, expr(
          "transform(sequence(2, size(w) - 1), i -> struct(w[i-2] AS w1, w[i-1] AS w2, w[i] AS w3))"))
          .otherwise(expr("array()")))
          .as("t"))
      .select($"doc_id", $"source", $"t.w1", $"t.w2", $"t.w3")
  }

  /** Frozen trigram counts over the reference slice — the third LM-family
    * layout beside the bigram counts and their roll-ups (one fingerprint
    * protocol, one artifact family). */
  private[graft] def lmTrigrams(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Layouts.parquet(s, Layouts.pathOf("lm", dir, "trigram"),
        Layouts.fingerprint(Tables.documents(s, dir), "doc_id", "text", "source")) {
      docTrigrams(s, Tables.documents(s, dir))
        .filter($"source" === PplRefSource)
        .groupBy($"w1", $"w2", $"w3").agg(count(lit(1)).as("ct"))
    }
  }

  /** Trigram LM scoring with STUPID BACKOFF (Brants et al. 2007) — the
    * scoring rule invented precisely for distributed web-scale LMs:
    * S(w3|w1w2) = ct/cb(w1w2) if the trigram was seen, else
    * 0.4·cb(w2w3)/c(w2·) if the bigram was, else 0.16·smoothed-unigram.
    * No discounting, no normalization pass over the model — which is
    * the point: a Kneser-Ney model needs global count-of-count
    * statistics recomputed whenever the model changes, stupid backoff
    * scores straight off raw frozen count tables, so the model layer is
    * exactly the three persisted layouts the bigram family already
    * maintains plus one trigram table. Google's 2007 result is that at
    * web-scale training-set sizes the quality gap to KN closes — the
    * 100 TB lesson baked into an operator.
    *
    * Scale shape: docs reduce map-side to (doc, w1, w2, w3, c); then
    * FOUR shuffle_hash equi-joins attach ct, cb(w1,w2), cb(w2,w3) and
    * c(w2·)/c(w3·) — each keyed on its own gram key, each against
    * vocabulary-bounded (never broadcast) model state; the only
    * broadcast is the 1-row (T, V) stats frame. The backoff CASE is
    * scan arithmetic. Zipf-hot keys are AQE skew territory, as with
    * every term join here. Determinism: integer counts till the final
    * ln; round(4) absorbs association error (the pplOracle precedent). */
  /** Per-doc stupid-backoff scores, PERSISTED under the Layouts
    * fingerprint protocol — the same recurring-cost discipline as
    * perplexityScores: scoring a corpus against a frozen model is
    * deterministic per dataset, so it runs once per dataset, not once
    * per consumer/session (warm cost drops from the full 4-join scoring
    * dataflow to a layout read). */
  private[graft] def trigramScores(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    Layouts.parquet(s, Layouts.pathOf("nll3", dir),
        Layouts.fingerprint(Tables.documents(s, dir), "doc_id", "text", "source"))(
      scoreTrigramsOnce(s, dir))
  }

  private def scoreTrigramsOnce(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      val lm = lmModel(s, dir)
      val tri = lmTrigrams(s, dir)
      val stats = broadcast(
        lm.uc.agg(sum($"cw1").as("t_tot")).crossJoin(lm.vocab))
      val dt = docTrigrams(s, Tables.documents(s, dir))
        .groupBy($"doc_id", $"w1", $"w2", $"w3").agg(count(lit(1)).as("c"))
      dt
        .join(tri.hint("shuffle_hash"), Seq("w1", "w2", "w3"), "left")
        .join(lm.bc.select($"w1", $"w2", $"cb".as("cb12")).hint("shuffle_hash"),
          Seq("w1", "w2"), "left")
        .join(lm.bc.select($"w1".as("w2"), $"w2".as("w3"), $"cb".as("cb23"))
          .hint("shuffle_hash"), Seq("w2", "w3"), "left")
        .join(lm.uc.select($"w1".as("w2"), $"cw1".as("cw2")).hint("shuffle_hash"),
          Seq("w2"), "left")
        .join(lm.uc.select($"w1".as("w3"), $"cw1".as("cw3")).hint("shuffle_hash"),
          Seq("w3"), "left")
        .crossJoin(stats)
        .withColumn("ct0", coalesce($"ct", lit(0L)))
        .withColumn("cb23z", coalesce($"cb23", lit(0L)))
        .withColumn("score",
          when($"ct0" > 0L, $"ct0".cast("double") / $"cb12".cast("double"))
          .when($"cb23z" > 0L,
            lit(0.4) * $"cb23z".cast("double") / $"cw2".cast("double"))
          .otherwise(lit(0.16) * (coalesce($"cw3", lit(0L)) + 1L).cast("double")
            / ($"t_tot" + $"v").cast("double")))
        .groupBy($"doc_id")
        .agg(
          sum($"c").as("n_trigrams"),
          sum(when($"ct0" > 0L, $"c").otherwise(0L)).as("n_hit3"),
          sum(when($"ct0" === 0L && $"cb23z" > 0L, $"c").otherwise(0L)).as("n_hit2"),
          round(-sum(log($"score") * $"c") / sum($"c"), 4).as("nll_sb"))
  }

  val perplexityTrigram: GraftQuery = GraftQuery(
    "llm_perplexity_trigram",
    (s, dir) => {
      import s.implicits._
      trigramScores(s, dir).orderBy($"doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
                        FROM documents),
             tg AS (SELECT doc_id, source, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
                    FROM t, unnest(range(1, len(w) - 1)) u(i)),
             bg AS (SELECT doc_id, source, w[i] AS w1, w[i+1] AS w2
                    FROM t, unnest(range(1, len(w))) u(i)),
             rt AS (SELECT w1, w2, w3, count(*) AS ct FROM tg
                    WHERE source = '$PplRefSource' GROUP BY 1, 2, 3),
             bc AS (SELECT w1, w2, count(*) AS cb FROM bg
                    WHERE source = '$PplRefSource' GROUP BY 1, 2),
             uc AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw1 FROM bc GROUP BY 1),
             st AS (SELECT (SELECT CAST(sum(cw1) AS BIGINT) FROM uc) AS t_tot,
                           (SELECT count(DISTINCT w2) + 1 FROM bg
                            WHERE source = '$PplRefSource') AS v),
             dt AS (SELECT doc_id, w1, w2, w3, count(*) AS c FROM tg
                    GROUP BY 1, 2, 3, 4),
             sc AS (SELECT d.doc_id, d.c,
                           coalesce(rt.ct, 0) AS ct0,
                           b12.cb AS cb12,
                           coalesce(b23.cb, 0) AS cb23z,
                           u2.cw1 AS cw2, coalesce(u3.cw1, 0) AS cw3
                    FROM dt d
                    LEFT JOIN rt USING (w1, w2, w3)
                    LEFT JOIN bc b12 ON d.w1 = b12.w1 AND d.w2 = b12.w2
                    LEFT JOIN bc b23 ON d.w2 = b23.w1 AND d.w3 = b23.w2
                    LEFT JOIN uc u2 ON d.w2 = u2.w1
                    LEFT JOIN uc u3 ON d.w3 = u3.w1),
             lp AS (SELECT doc_id, c, ct0, cb23z,
                           CASE WHEN ct0 > 0
                                  THEN CAST(ct0 AS DOUBLE) / CAST(cb12 AS DOUBLE)
                                WHEN cb23z > 0
                                  THEN 0.4 * CAST(cb23z AS DOUBLE) / CAST(cw2 AS DOUBLE)
                                ELSE 0.16 * CAST(cw3 + 1 AS DOUBLE)
                                     / CAST(t_tot + v AS DOUBLE) END AS score
                    FROM sc CROSS JOIN st)
             SELECT doc_id,
                    CAST(sum(c) AS BIGINT) AS n_trigrams,
                    CAST(sum(CASE WHEN ct0 > 0 THEN c ELSE 0 END) AS BIGINT) AS n_hit3,
                    CAST(sum(CASE WHEN ct0 = 0 AND cb23z > 0 THEN c ELSE 0 END) AS BIGINT)
                      AS n_hit2,
                    (round(-sum(ln(score) * c) / sum(c), 4) + 0.0) AS nll_sb
             FROM lp GROUP BY doc_id ORDER BY doc_id""")
  )

  /** The DATASET CARD: one row of corpus-level statistics — sizes, language
    * and source coverage, exact-duplicate rate, benchmark contamination,
    * mean quality, mean LM NLL, and the curated keep count. Every release
    * of a training corpus ships one of these (HF dataset cards, Dolma's
    * summary stats); here it is a QUERY over the same engine signals the
    * per-doc operators grade, so card and pipeline can never disagree.
    *
    * Scale shape: one corpus scan for the base stats; everything else
    * reads the PERSISTED signal layouts (contaminated ids, per-doc NLLs)
    * or scan-speed projections (quality), reduced to 1-row frames and
    * broadcast-assembled — the card costs one scan plus layout reads,
    * regardless of how many signals it carries. Means of 4-dp signals
    * use the ts_cusum integer discipline (decimal-cast → scaled BIGINT
    * sum → integer div, truncated at 4 dp) — round(avg(double)) of
    * boundary-structured values is exactly the cross-engine trap the
    * sf0.1 closure caught. */
  val datasetCard: GraftQuery = GraftQuery(
    "llm_dataset_card",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size(TF.tokens($"text"))).as("n_tokens"),
        countDistinct($"lang").as("n_langs"),
        countDistinct($"source").as("n_sources"),
        (count(lit(1)) - countDistinct($"text")).as("dup_docs"))
      val cont = contaminatedIds(s, dir)
        .agg(count(lit(1)).as("contaminated_docs"))
      val qual = graft.llm.TextStats.scoredDocs(s, dir).agg(
        (expr("sum(CAST(CAST(score AS DECIMAL(18,4)) * 10000 AS BIGINT)) div count(1)")
          .cast("double") / 10000.0).as("mean_quality"))
      val nll = perplexityScores(s, dir).agg(
        (expr("sum(CAST(CAST(nll AS DECIMAL(18,4)) * 10000 AS BIGINT)) div count(1)")
          .cast("double") / 10000.0).as("mean_nll"))
      val kept = curatedKeepList(s, dir).agg(count(lit(1)).as("kept_docs"))
      base.crossJoin(broadcast(cont)).crossJoin(broadcast(qual))
        .crossJoin(broadcast(nll)).crossJoin(broadcast(kept))
    },
    Some(s"""WITH base AS (
               SELECT count(*) AS n_docs,
                      CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
                      count(DISTINCT lang) AS n_langs,
                      count(DISTINCT source) AS n_sources,
                      CAST(count(*) - count(DISTINCT text) AS BIGINT) AS dup_docs
               FROM documents),
             grams AS (
               SELECT doc_id,
                      list_distinct(list_transform(range(1, greatest(len(w) - ${ContamN - 2}, 1)),
                        i -> array_to_string(w[i:i+${ContamN - 1}], ' '))) AS g
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
             bench AS (
               SELECT DISTINCT gu.x AS g FROM grams, unnest(g) AS gu(x)
               WHERE doc_id % $BenchMod = $BenchRem),
             corpus AS (
               SELECT DISTINCT doc_id, gu.x AS g FROM grams, unnest(g) AS gu(x)
               WHERE doc_id % $BenchMod != $BenchRem),
             cont AS (
               SELECT CAST(count(*) AS BIGINT) AS contaminated_docs FROM (
                 SELECT c.doc_id FROM corpus c JOIN bench b ON c.g = b.g
                 GROUP BY c.doc_id HAVING count(*) >= $DecontamMinHits)),
             q AS (
               SELECT CAST(sum(CAST(CAST($scoreSqlForCard AS DECIMAL(18,4)) * 10000 AS BIGINT))
                           // count(*) AS DOUBLE) / 10000.0 AS mean_quality
               FROM documents),
             nllm AS (
               SELECT CAST(sum(CAST(CAST(nll AS DECIMAL(18,4)) * 10000 AS BIGINT))
                           // count(*) AS DOUBLE) / 10000.0 AS mean_nll
               FROM ($pplOracle)),
             k AS (
               SELECT CAST(count(*) AS BIGINT) AS kept_docs FROM ($curateOracle))
             SELECT * FROM base, cont, q, nllm, k""")
  )

  /** TextStats.scoreSql for interpolation into the card oracle (alias to
    * keep the interpolated string readable). */
  private def scoreSqlForCard: String = graft.llm.TextStats.scoreSql

  /** Interpolated Kneser–Ney bigram probabilities over the frozen LM —
    * the smoothing that replaced add-one in every serious n-gram LM
    * (KenLM's default): the bigram term discounts observed counts by a
    * fixed D and the freed mass backs off to the CONTINUATION unigram
    * (how many distinct contexts a word follows — "Francisco" is
    * frequent but only ever follows "San", so its continuation weight is
    * tiny). Graded output: the top-50 bigrams with their exact KN
    * probability.
    *
    * Determinism — EXACT RATIONAL arithmetic: with D = 3/4, multiplying
    * through by 4·c(w1)·M gives
    *   num = M·max(4·c12 − 3, 0) + 3·N1+(w1·)·N1+(·w2)
    *   den = 4·c(w1)·M
    * — all BIGINTs, so p_kn is ONE division of identical integers in
    * both engines (no round() anywhere; rationals CAN be
    * boundary-structured, so rounding would be the trap, not the fix).
    * CorpusSpec proves the closed-form normalization identity
    * Σ max(4c12−3,0) + 3·N1+(w1·) = 4·c(w1) per context — the integer
    * form of "KN sums to 1 over the full vocabulary".
    *
    * Scale shape: three roll-ups of the persisted bigram layout (by w1,
    * by w2, and the 1-row type count M), joined back shuffle-hash (the
    * LM is billions of rows at web scale — never broadcast); top-50 is
    * TakeOrderedAndProject. */
  val knSmoothed: GraftQuery = GraftQuery(
    "llm_lm_kneser_ney",
    (s, dir) => {
      import s.implicits._
      val bc = lmCounts(s, dir)
      val c1 = bc.groupBy($"w1")
        .agg(sum($"cb").as("c1"), count(lit(1)).as("n1fwd"))
      val bwd = bc.groupBy($"w2").agg(count(lit(1)).as("n1bwd"))
      val m = bc.agg(count(lit(1)).as("m"))
      bc.join(c1.hint("shuffle_hash"), "w1")
        .join(bwd.hint("shuffle_hash"), "w2")
        .crossJoin(broadcast(m))
        .withColumn("kn_num",
          expr("m * greatest(4 * cb - 3, 0) + 3 * n1fwd * n1bwd"))
        .withColumn("kn_den", expr("4 * c1 * m"))
        .select($"w1", $"w2", $"cb", $"kn_num", $"kn_den",
          ($"kn_num".cast("double") / $"kn_den".cast("double")).as("p_kn"))
        .orderBy($"cb".desc, $"w1", $"w2")
        .limit(50)
    },
    Some(s"""WITH pt AS (SELECT doc_id, source, string_split(text, ' ') AS w
                         FROM documents),
             pbg AS (SELECT w[i] AS w1, w[i+1] AS w2
                     FROM pt, unnest(range(1, len(w))) u(i)
                     WHERE source = '$PplRefSource'),
             bc AS (SELECT w1, w2, count(*) AS cb FROM pbg GROUP BY 1, 2),
             c1 AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1,
                           count(*) AS n1fwd FROM bc GROUP BY 1),
             bwd AS (SELECT w2, count(*) AS n1bwd FROM bc GROUP BY 1),
             m AS (SELECT count(*) AS m FROM bc)
             SELECT w1, w2, cb,
                    CAST(m.m * greatest(4 * cb - 3, 0)
                         + 3 * n1fwd * n1bwd AS BIGINT) AS kn_num,
                    CAST(4 * c1.c1 * m.m AS BIGINT) AS kn_den,
                    CAST(m.m * greatest(4 * cb - 3, 0)
                         + 3 * n1fwd * n1bwd AS DOUBLE)
                      / CAST(4 * c1.c1 * m.m AS DOUBLE) AS p_kn
             FROM bc JOIN c1 USING (w1) JOIN bwd USING (w2) CROSS JOIN m
             ORDER BY cb DESC, w1, w2 LIMIT 50""")
  )

  /** Interpolated TRIGRAM Kneser–Ney over the frozen trigram layout —
    * the full modified-KN ladder next to the bigram form: the trigram
    * term discounts observed c(w1w2w3) and backs off to the CONTINUATION
    * bigram distribution (how many distinct w1 precede (w2,w3)), which
    * itself discounts and backs off to the continuation unigram. The
    * smoothing KenLM actually ships for production n-gram LMs.
    *
    * Determinism — EXACT RATIONAL through BOTH levels (D = 3/4 at each):
    * multiplying through by 16·c₁₂·N1+(·w₂·)·M gives
    *   num = 4·N1+(·w₂·)·M·max(4·c₁₂₃ − 3, 0)
    *       + 3·N1+(w₁w₂·)·[M·max(4·N1+(·w₂w₃) − 3, 0)
    *                       + 3·N1+(w₂·)·N1+(·w₃)]
    *   den = 16·c₁₂·N1+(·w₂·)·M
    * — all BIGINTs (peak ~1e13 at sf0.1, far inside range), so p is ONE
    * division of identical integers; no round() anywhere. CorpusSpec
    * proves the closed normalization identities at both levels:
    * Σ max(4c−3,0) = 4·c₁₂ − 3·N1+(w₁w₂·) per context, and the
    * continuation level's Σ = 4·N1+(·w₂·)·M per w₂.
    *
    * Scale shape: four roll-ups of the persisted trigram layout (by
    * (w1,w2), by (w2,w3), by w2, by w3) + the 1-row type count, joined
    * back shuffle-hash — the model is billions of rows at web scale,
    * never broadcast; top-50 is TakeOrderedAndProject. */
  val kn3Smoothed: GraftQuery = GraftQuery(
    "llm_lm_kneser_ney3",
    (s, dir) => {
      import s.implicits._
      val tri = lmTrigrams(s, dir)
      val ctx12 = tri.groupBy($"w1", $"w2")
        .agg(sum($"ct").as("c12"), count(lit(1)).as("n3fwd"))
      val mid = tri.groupBy($"w2", $"w3").agg(count(lit(1)).as("ncmid"))
      val midCtx = mid.groupBy($"w2")
        .agg(sum($"ncmid").as("nmidctx"), count(lit(1)).as("nafter"))
      val endw = mid.groupBy($"w3").agg(count(lit(1)).as("nend"))
      val m = mid.agg(count(lit(1)).as("m"))
      tri.join(ctx12.hint("shuffle_hash"), Seq("w1", "w2"))
        .join(mid.hint("shuffle_hash"), Seq("w2", "w3"))
        .join(midCtx.hint("shuffle_hash"), Seq("w2"))
        .join(endw.hint("shuffle_hash"), Seq("w3"))
        .crossJoin(broadcast(m))
        .withColumn("kn_num",
          expr("""4 * nmidctx * m * greatest(4 * ct - 3, 0)
                  + 3 * n3fwd * (m * greatest(4 * ncmid - 3, 0)
                                 + 3 * nafter * nend)"""))
        .withColumn("kn_den", expr("16 * c12 * nmidctx * m"))
        .select($"w1", $"w2", $"w3", $"ct", $"kn_num", $"kn_den",
          ($"kn_num".cast("double") / $"kn_den".cast("double")).as("p_kn"))
        .orderBy($"ct".desc, $"w1", $"w2", $"w3")
        .limit(50)
    },
    Some(s"""WITH pt AS (SELECT doc_id, source, string_split(text, ' ') AS w
                         FROM documents),
             ptg AS (SELECT w[i-1] AS w1, w[i] AS w2, w[i+1] AS w3
                     FROM pt, unnest(range(2, len(w))) u(i)
                     WHERE source = '$PplRefSource'),
             tri AS (SELECT w1, w2, w3, count(*) AS ct FROM ptg GROUP BY 1, 2, 3),
             ctx12 AS (SELECT w1, w2, CAST(sum(ct) AS BIGINT) AS c12,
                              count(*) AS n3fwd FROM tri GROUP BY 1, 2),
             mid AS (SELECT w2, w3, count(*) AS ncmid FROM tri GROUP BY 1, 2),
             midctx AS (SELECT w2, CAST(sum(ncmid) AS BIGINT) AS nmidctx,
                               count(*) AS nafter FROM mid GROUP BY 1),
             endw AS (SELECT w3, count(*) AS nend FROM mid GROUP BY 1),
             m AS (SELECT count(*) AS m FROM mid)
             SELECT w1, w2, w3, ct,
                    CAST(4 * nmidctx * m.m * greatest(4 * ct - 3, 0)
                         + 3 * n3fwd * (m.m * greatest(4 * ncmid - 3, 0)
                                        + 3 * nafter * nend) AS BIGINT) AS kn_num,
                    CAST(16 * c12 * nmidctx * m.m AS BIGINT) AS kn_den,
                    CAST(4 * nmidctx * m.m * greatest(4 * ct - 3, 0)
                         + 3 * n3fwd * (m.m * greatest(4 * ncmid - 3, 0)
                                        + 3 * nafter * nend) AS DOUBLE)
                      / CAST(16 * c12 * nmidctx * m.m AS DOUBLE) AS p_kn
             FROM tri JOIN ctx12 USING (w1, w2) JOIN mid USING (w2, w3)
                      JOIN midctx USING (w2) JOIN endw USING (w3) CROSS JOIN m
             ORDER BY ct DESC, w1, w2, w3 LIMIT 50""")
  )

  /** The TRAINING MANIFEST — the one artifact a trainer consumes, and
    * the end product every operator upstream exists to produce: the
    * curated keep-list resolved to (split, shard) cells with exact doc
    * and token counts and an order-insensitive content digest per cell.
    * A trainer (or a second pipeline run) verifies its download against
    * exactly this table — the digest localizes a divergence to one
    * shard, the counts size the dataloader, the split assignment is
    * reproducible from doc_id alone (no RNG, no state).
    *
    * Composition: keep-list = the full seven-signal llm_curate pipeline
    * (persisted, fingerprinted); split = deterministic doc_id hash-mod
    * (95/5 train/val — the llm_train_split convention); shard =
    * doc_id mod 8 within split; digest = BIT_XOR of the fn_checksum
    * 48-bit md5 device over doc ids (closed on 64 bits — no overflow,
    * no ordering hazard). One shuffle-hash tag join + one hash
    * aggregate onto the 16-cell (split, shard) domain; at 100 TB the
    * manifest costs one pass over the keep-list. */
  /** The manifest resolution shared by llm_train_manifest and
    * llm_manifest_diff: a keep-list (doc_id) joined to per-doc token
    * counts, hash-assigned to (split, shard) cells with exact counts and
    * the order-insensitive 48-bit XOR digest. UNSORTED — callers order. */
  private[graft] def manifestCells(keep: DataFrame,
                                   docs: DataFrame): DataFrame = {
    val s = keep.sparkSession
    import s.implicits._
    keep.select($"doc_id")
      .join(docs.hint("shuffle_hash"), "doc_id")
      .withColumn("split",
        when(pmod($"doc_id", lit(100)) < 95, "train").otherwise("val"))
      .withColumn("shard", pmod($"doc_id", lit(8)))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
      .groupBy($"split", $"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"),
        expr("bit_xor(h)").as("content_digest"))
  }

  /** Per-doc token counts, the docs side of [[manifestCells]]. */
  private[graft] def manifestDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("n_tokens"))
  }

  val trainManifest: GraftQuery = GraftQuery(
    "llm_train_manifest",
    (s, dir) => {
      import s.implicits._
      manifestCells(curatedKeepList(s, dir).select($"doc_id"),
          manifestDocs(s, dir).drop("source"))
        .orderBy($"split", $"shard")
    },
    Some(s"""WITH kept AS ($curateOracle)
        SELECT CASE WHEN kept.doc_id % 100 < 95 THEN 'train' ELSE 'val' END AS split,
               kept.doc_id % 8 AS shard,
               count(*) AS n_docs,
               CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
               bit_xor(CAST(('0x' || substr(md5(CAST(kept.doc_id AS VARCHAR)), 1, 12))
                 AS BIGINT)) AS content_digest
        FROM kept JOIN documents d ON kept.doc_id = d.doc_id
        GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** Manifest DIFF — the replication handshake's other half: given the
    * canonical training manifest and a replica's (here: a replica that
    * silently lost every src7 document — the torn-mirror scenario), emit
    * all (split, shard) cells side by side with exact doc/token deltas
    * and the digest verdict. The XOR digest localizes ANY divergence to
    * its cell without comparing one document: equal counts with unequal
    * digests means substitution, not loss — the case count-only
    * verification misses.
    *
    * Scale shape: two manifest resolutions (each one keep-list pass, the
    * trainManifest plan) and a 16×16-cell full outer join — the diff
    * itself is catalog-sized at any corpus scale. */
  val manifestDiff: GraftQuery = GraftQuery(
    "llm_manifest_diff",
    (s, dir) => {
      import s.implicits._
      val keep = curatedKeepList(s, dir).select($"doc_id").localCheckpoint()
      val docs = manifestDocs(s, dir)
      val a = manifestCells(keep, docs.drop("source"))
      val replicaKeep = keep.join(
        docs.filter($"source" =!= "src7").select($"doc_id")
          .hint("shuffle_hash"), "doc_id")
      val b = manifestCells(replicaKeep, docs.drop("source"))
      a.select($"split", $"shard", $"n_docs".as("n_docs_a"),
          $"n_tokens".as("n_tokens_a"), $"content_digest".as("dig_a"))
        .join(b.select($"split", $"shard", $"n_docs".as("n_docs_b"),
          $"n_tokens".as("n_tokens_b"), $"content_digest".as("dig_b")),
          Seq("split", "shard"), "full")
        .select($"split", $"shard",
          coalesce($"n_docs_a", lit(0L)).as("n_docs_a"),
          coalesce($"n_docs_b", lit(0L)).as("n_docs_b"),
          (coalesce($"n_docs_a", lit(0L)) - coalesce($"n_docs_b", lit(0L)))
            .as("n_docs_delta"),
          (coalesce($"n_tokens_a", lit(0L)) - coalesce($"n_tokens_b", lit(0L)))
            .as("n_tokens_delta"),
          ($"dig_a" <=> $"dig_b").as("digest_match"))
        .orderBy($"split", $"shard")
    },
    Some(s"""WITH kept AS ($curateOracle),
        docs AS (SELECT doc_id, source,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents),
        ma AS (SELECT CASE WHEN kept.doc_id % 100 < 95 THEN 'train'
                           ELSE 'val' END AS split,
                      kept.doc_id % 8 AS shard,
                      count(*) AS n_docs,
                      CAST(sum(d.n_tokens) AS BIGINT) AS n_tokens,
                      bit_xor(CAST(('0x' || substr(md5(CAST(kept.doc_id AS VARCHAR)),
                        1, 12)) AS BIGINT)) AS dig
               FROM kept JOIN docs d ON kept.doc_id = d.doc_id
               GROUP BY 1, 2),
        mb AS (SELECT CASE WHEN kept.doc_id % 100 < 95 THEN 'train'
                           ELSE 'val' END AS split,
                      kept.doc_id % 8 AS shard,
                      count(*) AS n_docs,
                      CAST(sum(d.n_tokens) AS BIGINT) AS n_tokens,
                      bit_xor(CAST(('0x' || substr(md5(CAST(kept.doc_id AS VARCHAR)),
                        1, 12)) AS BIGINT)) AS dig
               FROM kept JOIN docs d ON kept.doc_id = d.doc_id
               WHERE d.source <> 'src7'
               GROUP BY 1, 2)
        SELECT coalesce(ma.split, mb.split) AS split,
               coalesce(ma.shard, mb.shard) AS shard,
               coalesce(ma.n_docs, 0) AS n_docs_a,
               coalesce(mb.n_docs, 0) AS n_docs_b,
               CAST(coalesce(ma.n_docs, 0) - coalesce(mb.n_docs, 0) AS BIGINT)
                 AS n_docs_delta,
               CAST(coalesce(ma.n_tokens, 0) - coalesce(mb.n_tokens, 0) AS BIGINT)
                 AS n_tokens_delta,
               ma.dig IS NOT DISTINCT FROM mb.dig AS digest_match
        FROM ma FULL JOIN mb ON ma.split = mb.split AND ma.shard = mb.shard
        ORDER BY 1, 2""")
  )

  /** Curriculum schedule — the curated keep-list staged EASY→HARD by
    * classifier quality quartile and resolved to (stage, shard) cells
    * with exact counts and digests: the training-order artifact a
    * curriculum-learning run consumes (stage 1 = cleanest quartile
    * first, the canonical warmup; the digests make each stage's shard
    * set verifiable exactly like llm_train_manifest's).
    *
    * The stage cut is a GLOBAL quality rank over the corpus-growing
    * keep-list — the factored twoLevelRank device (agg_rfm discipline:
    * range-partition → bucket prefix → within-bucket row_number, no
    * one-task sort), quartiles by the exact ntile formula (guarded
    * n ≥ 4), ties pinned by doc_id. One keep-list pass + one bounded
    * (stage, shard) aggregate. */
  val curriculum: GraftQuery = GraftQuery(
    "llm_curriculum",
    (s, dir) => {
      import s.implicits._
      val scored = GraftQuery.cutStats(
        curatedKeepList(s, dir).select($"doc_id")
          .join(TextStats.classifierScores(Tables.documents(s, dir))
            .select($"doc_id", round($"p_keep" * 10000).cast("long").as("p_e4"))
            .hint("shuffle_hash"), "doc_id")
          .join(manifestDocs(s, dir).drop("source").hint("shuffle_hash"), "doc_id"))
      val tot = scored.agg(count(lit(1)).as("n"))
      val ranked = graft.operators.Windows.twoLevelRank(
        scored, Seq($"p_e4".desc, $"doc_id".asc), "r")
      ranked.crossJoin(broadcast(tot))
        .withColumn("q", GraftQuery.guarded(expr("n div 4"), expr("n >= 4"),
          "llm_curriculum: quartile stages require n >= 4 kept docs \u2014 "
            + "curate a larger corpus"))
        .withColumn("m", expr("n % 4"))
        .withColumn("stage", expr(
          """CASE WHEN r <= (q + 1) * m THEN (r - 1) div (q + 1) + 1
                  ELSE m + (r - (q + 1) * m - 1) div q + 1 END"""))
        .withColumn("shard", pmod($"doc_id", lit(8)))
        .withColumn("h", expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
        .groupBy($"stage", $"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"),
          min($"p_e4").as("p_min"), max($"p_e4").as("p_max"),
          expr("bit_xor(h)").as("content_digest"))
        .orderBy($"stage", $"shard")
    },
    Some(s"""WITH kept AS ($curateOracle),
        ${TextStats.classifierCtes},
        sc AS (SELECT kept.doc_id,
                      CAST((round(p_keep * 10000) + 0.0) AS BIGINT) AS p_e4,
                      CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
               FROM kept JOIN clf ON kept.doc_id = clf.doc_id
                    JOIN documents d ON kept.doc_id = d.doc_id),
        t AS (SELECT count(*) AS n FROM sc),
        r AS (SELECT sc.*, t.n, t.n // 4 AS q, t.n % 4 AS m,
                     row_number() OVER (ORDER BY p_e4 DESC, doc_id ASC) AS r
              FROM sc CROSS JOIN t),
        st AS (SELECT doc_id, p_e4, n_tokens,
                      CASE WHEN r <= (q + 1) * m THEN (r - 1) // (q + 1) + 1
                           ELSE m + (r - (q + 1) * m - 1) // q + 1 END AS stage,
                      doc_id % 8 AS shard
               FROM r)
        SELECT stage, shard, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(min(p_e4) AS BIGINT) AS p_min,
               CAST(max(p_e4) AS BIGINT) AS p_max,
               bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                 AS BIGINT)) AS content_digest
        FROM st GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  def all: Seq[GraftQuery] =
    Seq(contamination, decontaminate, repetition, substringDup, paragraphDedup,
      tfidf, curate, perplexity, perplexityTrigram, bm25, datasetCard,
      knSmoothed, kn3Smoothed, trainManifest, manifestDiff, curriculum)
}
