package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.sources.Tables
import graft.functions.{TextFunctions => TF}

/** Text-analysis operators: per-document quality stats, n-gram-marker
  * language ID, rolling-hash fingerprinting, corpus language profile.
  * All pure codegen'd built-ins over the scan — no UDFs, no shuffle except
  * the final (tiny) aggregations.
  */
object TextStats {

  /** Per-document stats: token count, char counts, token-length and
    * stopword/vowel ratios. Ratios are exact integer-over-integer double
    * divisions — bit-deterministic, no rounding needed. */
  val textStats: GraftQuery = GraftQuery(
    "llm_text_stats",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", $"lang", $"text")
        .withColumn("toks", TF.tokens($"text"))
        .withColumn("n_tokens", size($"toks"))
        .withColumn("n_chars", length($"text"))
        .withColumn("avg_token_len",
          ($"n_chars" - ($"n_tokens" - 1)).cast("double") / $"n_tokens".cast("double"))
        .withColumn("stopword_ratio",
          size(filter($"toks", t => t === "the" || t === "a" || t === "of"))
            .cast("double") / $"n_tokens".cast("double"))
        .withColumn("vowel_ratio",
          regexp_count($"text", lit("[aeiou]")).cast("double") / $"n_chars".cast("double"))
        .select($"doc_id", $"lang", $"n_tokens", $"n_chars",
                $"avg_token_len", $"stopword_ratio", $"vowel_ratio")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                   CAST(length(text) AS INT) AS n_chars,
                   CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the', 'a', 'of'))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
                   CAST(len(regexp_extract_all(text, '[aeiou]')) AS DOUBLE)
                     / CAST(length(text) AS DOUBLE) AS vowel_ratio
            FROM documents ORDER BY doc_id""")
  )

  /** Marker-token language-ID heuristic: per-language marker counts with a
    * fixed-precedence argmax. (On the synthetic shared-vocabulary corpus
    * the scores are what matters; the heuristic itself is the operator.) */
  val langId: GraftQuery = GraftQuery(
    "llm_langid",
    (s, dir) => {
      import s.implicits._
      def score(markers: Seq[String]) = {
        val set = markers
        size(filter(TF.tokens($"text"), t => set.map(m => t === m).reduce(_ || _)))
      }
      Tables.documents(s, dir)
        .select($"doc_id", $"lang", $"text")
        .withColumn("s_en", score(Seq("the", "a")))
        .withColumn("s_es", score(Seq("data", "row")))
        .withColumn("s_de", score(Seq("window", "merge")))
        .withColumn("s_fr", score(Seq("table", "join")))
        .withColumn("s_zh", score(Seq("spark", "hash")))
        .withColumn("predicted",
          when($"s_en" >= greatest($"s_es", $"s_de", $"s_fr", $"s_zh"), "en")
            .when($"s_es" >= greatest($"s_de", $"s_fr", $"s_zh"), "es")
            .when($"s_de" >= greatest($"s_fr", $"s_zh"), "de")
            .when($"s_fr" >= $"s_zh", "fr")
            .otherwise("zh"))
        .select($"doc_id", $"lang", $"s_en", $"s_es", $"s_de", $"s_fr", $"s_zh", $"predicted")
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
            sc AS (SELECT doc_id, lang,
                   CAST(len(list_filter(w, x -> x IN ('the','a'))) AS INT)        AS s_en,
                   CAST(len(list_filter(w, x -> x IN ('data','row'))) AS INT)     AS s_es,
                   CAST(len(list_filter(w, x -> x IN ('window','merge'))) AS INT) AS s_de,
                   CAST(len(list_filter(w, x -> x IN ('table','join'))) AS INT)   AS s_fr,
                   CAST(len(list_filter(w, x -> x IN ('spark','hash'))) AS INT)   AS s_zh
                   FROM t)
            SELECT doc_id, lang, s_en, s_es, s_de, s_fr, s_zh,
                   CASE WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
                        WHEN s_es >= greatest(s_de, s_fr, s_zh) THEN 'es'
                        WHEN s_de >= greatest(s_fr, s_zh) THEN 'de'
                        WHEN s_fr >= s_zh THEN 'fr'
                        ELSE 'zh' END AS predicted
            FROM sc ORDER BY doc_id""")
  )

  /** Polynomial rolling-hash fingerprint per document (oracle-parity token
    * values; production variant is xxhash64 — see DedupSpec). */
  val fingerprint: GraftQuery = GraftQuery(
    "llm_fingerprint",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", TF.polyFingerprint(TF.tokens($"text")).as("fp"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
                   list_reduce(
                     list_transform(string_split(text, ' '),
                                    t -> CAST(ascii(t) * 31 + length(t) AS BIGINT)),
                     (a, b) -> (a * 131 + b) % 1000000007) AS fp
            FROM documents ORDER BY doc_id""")
  )

  /** Corpus profile: per-language doc counts and mean sizes. */
  val langProfile: GraftQuery = GraftQuery(
    "llm_lang_profile",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .withColumn("n_tokens", size(TF.tokens($"text")))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
             sum($"n_chars").as("sum_chars"),
             round(avg($"n_tokens"), 4).as("avg_tokens"))
        .orderBy($"lang")
    },
    Some("""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   (round(avg(len(string_split(text, ' '))), 4) + 0.0) AS avg_tokens
            FROM documents GROUP BY lang ORDER BY lang""")
  )

  /** BPE-ish token counting: a GPT-style pre-tokenizer regex (letter runs,
    * digit runs, single punctuation) plus a subword estimate of
    * ceil(len/4) pieces per pre-token — the standard "~4 chars per BPE
    * token" heuristic, exact-arithmetic so it oracles. The regex is shared
    * ASCII-safe syntax between Java regex (Spark) and RE2 (DuckDB). */
  val tokenBpe: GraftQuery = GraftQuery(
    "llm_token_bpe",
    (s, dir) => {
      import s.implicits._
      val pre = regexp_extract_all($"text", lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))
      Tables.documents(s, dir)
        .select($"doc_id", pre.as("pre"))
        .select($"doc_id",
          size($"pre").as("n_pretokens"),
          aggregate(transform($"pre", t => ceil(length(t) / lit(4.0)).cast("long")),
            lit(0L), (acc, v) => acc + v).as("n_bpe"))
        .orderBy($"doc_id")
    },
    Some("""WITH pre AS (
              SELECT doc_id, regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS p
              FROM documents)
            SELECT doc_id,
                   CAST(len(p) AS INT) AS n_pretokens,
                   CAST(list_sum(list_transform(p, t -> CAST(ceil(length(t) / 4.0) AS BIGINT)))
                        AS BIGINT) AS n_bpe
            FROM pre ORDER BY doc_id""")
  )

  /** Composite quality score: saturating length terms + stopword density,
    * bucketed. With n tokens, k stopwords and c characters the score is
    * min(n,50)/100 + 3k/(10n) + min(c,300)/1500 = num / (1500·n), where
    * num = 15·n·min(n,50) + 450·k + n·min(c,300). Both engines round that
    * exact rational half-up to 4 places in BIGINT arithmetic,
    * (20000·num + den) div (2·den). Rounding a double sum instead breaks
    * ties differently: Spark rounds the decimal string half-up, DuckDB
    * does not (n=16, k=1, c=39 is exactly 0.20475: Spark 0.2048, DuckDB
    * 0.2047). The score is NULL when n = 0. */
  /** (doc_id, score): the llm_quality composite score as a reusable frame
    * — shared by llm_quality and llm_dedup_keep_best (quality-based
    * cluster-representative selection). Rounded here (4 dp) so downstream
    * tie-breaks are cross-engine stable. */
  private[graft] def scoredDocs(s: SparkSession, dir: String): DataFrame =
    scoredDocsOver(Tables.documents(s, dir))

  /** The same composite score over an arbitrary docs frame (the
    * stream_curate micro-batch form — the score is per-doc pure). */
  private[graft] def scoredDocsOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("toks", TF.tokens($"text"))
      .withColumn("q_n", size($"toks").cast("long"))
      .withColumn("q_num",
        lit(15L) * $"q_n" * least($"q_n", lit(50L)) +
        lit(450L) * size(filter($"toks", t => t === "the" || t === "a" || t === "of")) +
        $"q_n" * least($"n_chars".cast("long"), lit(300L)))
      .withColumn("q_den", lit(1500L) * $"q_n")
      .withColumn("score", when($"q_n" > 0,
        expr("(20000 * q_num + q_den) div (2 * q_den)").cast("double") / 10000.0))
      .select($"doc_id", $"score")
  }

  /** The llm_quality oracle's score expression, for composition into
    * other oracles (keeps the two SQL forms literally identical). */
  private[graft] val scoreSql: String = {
    val n = "CAST(len(string_split(text, ' ')) AS BIGINT)"
    val k = "CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of'))) AS BIGINT)"
    val num = s"(15 * $n * least($n, 50) + 450 * $k + $n * least(CAST(n_chars AS BIGINT), 300))"
    val den = s"(1500 * $n)"
    s"""(CASE WHEN $n > 0
              THEN CAST((20000 * $num + $den) // (2 * $den) AS DOUBLE) / CAST(10000 AS DOUBLE)
         END)"""
  }

  val quality: GraftQuery = GraftQuery(
    "llm_quality",
    (s, dir) => {
      import s.implicits._
      scoredDocs(s, dir)
        .select($"doc_id", $"score",
          when($"score" >= 0.8, "high").when($"score" >= 0.5, "medium")
            .otherwise("low").as("bucket"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH q AS (
              SELECT doc_id, $scoreSql AS score
              FROM documents)
            SELECT doc_id, score,
                   CASE WHEN score >= 0.8 THEN 'high'
                        WHEN score >= 0.5 THEN 'medium'
                        ELSE 'low' END AS bucket
            FROM q ORDER BY doc_id""")
  )

  /** Gopher-style rule-based quality filter (Rae et al.'s published
    * heuristic battery, parameterized to the fixture's distributions):
    * word-count bounds, mean-word-length bounds, alphabetic-word
    * fraction, and required stopword evidence, each surfaced as its own
    * flag plus the conjunctive keep decision. This is the FIRST-pass
    * web filter production pipelines run before any model-based scorer
    * (llm_quality_classifier is the second pass; llm_quality the
    * hand-tuned composite) — all rules are scan-projection arithmetic
    * in whole-stage codegen, zero shuffles until the presentation sort,
    * so the filter runs at scan speed on 100 TB. Threshold notes:
    * bounds are set where the fixture distributions actually
    * discriminate (tokens 10–99 median 56 → [20,90]; mwl 3.69–5.08 →
    * [3.8,5.0]); flags compare the UNROUNDED doubles (the rounded
    * columns are presentation only), and round(·,4) of these
    * small-denominator ratios is cross-engine exact (denominators ≤ 99,
    * so the only terminating-decimal cases are binary-exact). */
  val qualityGopher: GraftQuery = GraftQuery(
    "llm_quality_gopher",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .withColumn("toks", TF.tokens($"text"))
        .withColumn("n_words", size($"toks"))
        .withColumn("mwl",
          ($"n_chars" - ($"n_words" - 1)).cast("double") / $"n_words".cast("double"))
        .withColumn("alpha_ratio",
          size(filter($"toks", t => t.rlike("[a-z]"))).cast("double")
            / $"n_words".cast("double"))
        .withColumn("stop_hits",
          size(filter(array(lit("the"), lit("a"), lit("of")),
            w => array_contains($"toks", w))))
        .withColumn("ok_words", $"n_words" >= 20 && $"n_words" <= 90)
        .withColumn("ok_mwl", $"mwl" >= 3.8 && $"mwl" <= 5.0)
        .withColumn("ok_alpha", $"alpha_ratio" >= 0.8)
        .withColumn("ok_stop", $"stop_hits" >= 2)
        .select($"doc_id", $"n_words",
          round($"mwl", 4).as("mean_word_len"),
          round($"alpha_ratio", 4).as("alpha_ratio"),
          $"stop_hits", $"ok_words", $"ok_mwl", $"ok_alpha", $"ok_stop",
          ($"ok_words" && $"ok_mwl" && $"ok_alpha" && $"ok_stop").as("keep"))
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w
                       FROM documents),
              m AS (SELECT doc_id,
                      CAST(len(w) AS INT) AS n_words,
                      CAST(n_chars - (len(w) - 1) AS DOUBLE) / len(w) AS mwl,
                      CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                        / len(w) AS alpha_ratio,
                      CAST(len(list_filter(['the','a','of'],
                           x -> list_contains(w, x))) AS INT) AS stop_hits
                    FROM t)
            SELECT doc_id, n_words,
                   (round(mwl, 4) + 0.0) AS mean_word_len,
                   (round(alpha_ratio, 4) + 0.0) AS alpha_ratio,
                   stop_hits,
                   n_words BETWEEN 20 AND 90 AS ok_words,
                   mwl >= 3.8 AND mwl <= 5.0 AS ok_mwl,
                   alpha_ratio >= 0.8 AS ok_alpha,
                   stop_hits >= 2 AS ok_stop,
                   (n_words BETWEEN 20 AND 90) AND (mwl >= 3.8 AND mwl <= 5.0)
                     AND alpha_ratio >= 0.8 AND stop_hits >= 2 AS keep
            FROM m ORDER BY doc_id""")
  )

  /** Vocabulary construction: token frequencies with a deterministic
    * top-K cut. Explode + hash aggregate — map-side partials mean the
    * shuffle carries one row per (token × partition), and the top-K is
    * TakeOrderedAndProject (per-partition heaps), so corpus size only
    * touches the scan. Docs-per-token rides along (distinct doc count). */
  val vocabTopK: GraftQuery = GraftQuery(
    "llm_vocab_topk",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", explode(TF.tokens($"text")).as("token"))
        .groupBy($"token")
        .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("n_docs"))
        .orderBy($"n".desc, $"token")
        .limit(50)
    },
    Some("""SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY token ORDER BY n DESC, token LIMIT 50""")
  )

  /** Token-level fuzzy matching via the symmetric-delete neighborhood
    * (SymSpell): two strings within edit distance 1 ALWAYS share an entry
    * of {self} ∪ {one-deletion variants} — substitution at i: delete i
    * from both; insertion/deletion: the shorter IS a variant of the
    * longer — so candidate generation is an equi-join on the variant
    * string, completing the similarity-join family (PPJoin = token sets,
    * MinHash/SimHash = sketches, cosine = vectors, containment = posting
    * lists; this one is CHARACTER edit distance, the vocabulary/entity
    * canonicalization primitive). Exact `levenshtein` verifies survivors,
    * so precision is 1.0 by construction and the neighborhood bound makes
    * recall 1.0 at distance ≤ 1 — the join is lossless, like the prefix
    * filter.
    *
    * The corpus vocabulary carries no distance-1 pairs (measured: 0), so
    * the query constructs its matches the way llm_dedup_exact constructs
    * duplicates: a typo view (first character doubled — one insertion)
    * unions with the vocabulary and must pair with its source token.
    *
    * Scale shape: everything is vocabulary-bounded — distinct tokens, a
    * few ×|tok| variants each, candidate output Σ df² over variant
    * buckets (short-token neighborhoods are the hot buckets; the length
    * floor is the guard, the containment df cap applies verbatim beyond
    * it). Verification is codegen `levenshtein` on a candidate set that
    * never touches the corpus. */
  val vocabFuzzy: GraftQuery = GraftQuery(
    "llm_vocab_fuzzy",
    (s, dir) => {
      import s.implicits._
      val vocab = Tables.documents(s, dir)
        .select(explode(TF.tokens($"text")).as("tok"))
        .distinct()
        .filter(length($"tok") >= 3)
      val typos = vocab.select(
        concat(substring($"tok", 1, 1), $"tok").as("tok"))
      val toks = vocab.unionAll(typos).distinct()
      val vars = toks.select($"tok",
        explode(concat(array($"tok"), expr(
          """transform(sequence(1, length(tok)),
               i -> concat(substring(tok, 1, i - 1),
                           substring(tok, i + 1, length(tok))))""")))
          .as("variant"))
      val cands = vars.as("a")
        .join(vars.hint("shuffle_hash").as("b"),
          $"a.variant" === $"b.variant" && $"a.tok" < $"b.tok")
        .select($"a.tok".as("tok_a"), $"b.tok".as("tok_b"))
        .distinct()
      cands
        .withColumn("dist", levenshtein($"tok_a", $"tok_b"))
        .filter($"dist" === 1)
        .orderBy($"tok_a", $"tok_b")
    },
    Some("""WITH v AS (SELECT DISTINCT t AS tok
                       FROM (SELECT unnest(string_split(text, ' ')) AS t
                             FROM documents)
                       WHERE len(t) >= 3),
            toks AS (SELECT DISTINCT tok FROM (
                       SELECT tok FROM v
                       UNION ALL SELECT substr(tok, 1, 1) || tok FROM v)),
            d AS (SELECT tok, variant
                  FROM toks, unnest(list_prepend(tok,
                         list_transform(range(1, len(tok) + 1),
                           i -> substr(tok, 1, i - 1) || substr(tok, i + 1, len(tok)))))
                       u(variant)),
            cand AS (SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b
                     FROM d a JOIN d b
                     ON a.variant = b.variant AND a.tok < b.tok)
            SELECT tok_a, tok_b, CAST(levenshtein(tok_a, tok_b) AS INT) AS dist
            FROM cand WHERE levenshtein(tok_a, tok_b) = 1
            ORDER BY tok_a, tok_b""")
  )

  /** Deterministic train/val/test split: a multiplicative-hash bucket of
    * the stable doc_id decides membership — reproducible across runs,
    * engines, and repartitioning (never `rand()`, which breaks on retry
    * and resists auditing). 90/5/5; the query reports per-split corpus
    * stats. The mixer constant is Knuth's 2^32/φ; values stay well inside
    * Long so Spark and DuckDB agree bit-for-bit. */
  val trainSplit: GraftQuery = GraftQuery(
    "llm_train_split",
    (s, dir) => {
      import s.implicits._
      val bucket = pmod($"doc_id" * lit(2654435761L), lit(100L))
      Tables.documents(s, dir)
        .withColumn("split",
          when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
             sum($"n_chars").as("sum_chars"),
             min($"doc_id").as("min_id"))
        .orderBy($"split")
    },
    Some("""SELECT CASE WHEN (doc_id * 2654435761) % 100 < 90 THEN 'train'
                        WHEN (doc_id * 2654435761) % 100 < 95 THEN 'val'
                        ELSE 'test' END AS split,
                   count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   min(doc_id) AS min_id
            FROM documents GROUP BY 1 ORDER BY split""")
  )

  /** PII scrubbing — the redaction pass every training-data pipeline runs
    * before tokenization. The fixture corpus carries no PII, so a
    * deterministic synthetic email+phone is appended per doc and then
    * scrubbed; per-doc detection counts plus an md5 of the scrubbed text
    * prove the replacement byte-exactly against the oracle. Pure
    * regexp_replace/regexp_count in the scan projection — ASCII-safe
    * patterns shared between Java regex and RE2. */
  val piiScrub: GraftQuery = GraftQuery(
    "llm_pii_scrub",
    (s, dir) => {
      import s.implicits._
      val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
      val phone = "\\+1-555-[0-9]{4}"
      Tables.documents(s, dir)
        .select($"doc_id",
          concat($"text", lit(" contact user"), $"doc_id",
            lit("@example.com or +1-555-"),
            lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0")).as("raw"))
        .select($"doc_id",
          regexp_count($"raw", lit(email)).as("n_emails"),
          regexp_count($"raw", lit(phone)).as("n_phones"),
          md5(regexp_replace(regexp_replace($"raw", email, "<EMAIL>"),
            phone, "<PHONE>")).as("scrub_md5"))
        .orderBy($"doc_id")
    },
    Some("""WITH raw AS (
              SELECT doc_id,
                     concat(text, ' contact user', doc_id, '@example.com or +1-555-',
                            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS raw
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS INT)
                     AS n_emails,
                   CAST(len(regexp_extract_all(raw, '\+1-555-[0-9]{4}')) AS INT)
                     AS n_phones,
                   md5(regexp_replace(
                       regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
                       '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS scrub_md5
            FROM raw ORDER BY doc_id""")
  )

  /** Stratified source/language mixing — the data-mixing pass that sets
    * per-stratum sampling rates when assembling a training corpus (e.g.
    * downweight the dominant web crawl, keep all of the rare languages).
    * The keep decision is a deterministic md5-hash threshold on the stable
    * doc_id (the simhash_poly trick: first 15 hex chars fit a BIGINT in
    * both engines), so the sample is reproducible across runs, engines,
    * retries, and repartitioning — never `rand()` — and UNIFORM within
    * each stratum regardless of id layout. Pure scan-projection filter:
    * zero shuffles at any corpus size (the final sort exists for the
    * oracle-determinism rule only; production drops it). Rates here
    * downweight English 4× and keep every other language whole. */
  val sampleStratified: GraftQuery = GraftQuery(
    "llm_sample_stratified",
    (s, dir) => {
      import s.implicits._
      val frac = expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS DOUBLE)") /
        lit(math.pow(2.0, 60))
      val rate = when($"lang" === "en", lit(0.25)).otherwise(lit(1.0))
      Tables.documents(s, dir)
        .filter(frac < rate)
        .select($"doc_id", $"lang", $"source")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, lang, source
            FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  / POW(2, 60)
                  < CASE WHEN lang = 'en' THEN 0.25 ELSE 1.0 END
            ORDER BY doc_id""")
  )

  /** Sequence packing — the concat-and-chunk assignment that turns a
    * filtered corpus into fixed-length training sequences: documents are
    * concatenated in a deterministic order and sliced every CtxLen
    * tokens; each doc is assigned the sequence its first token lands in
    * plus its offset there (the table a packer executes; boundary-
    * straddling docs split downstream). Packing is embarrassingly
    * parallel ACROSS packing groups but sequential within one, so the
    * corpus shards into `PackBuckets` deterministic hash groups and the
    * running token count is a window per group — ONE shuffle on the
    * bucket key, per-bucket sort, no global order anywhere. At 100 TB,
    * size the bucket count to the cluster (e.g. 100k buckets ≈ 1 GB of
    * tokens each); the per-sequence fill is unaffected because sequences
    * never cross buckets. Integer-only arithmetic → bit-exact oracle. */
  val packChunks: GraftQuery = GraftQuery(
    "llm_pack_chunks",
    (s, dir) => {
      import s.implicits._
      val CtxLen = 2048L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"bucket").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select($"doc_id", pmod($"doc_id", lit(8L)).as("bucket"),
          size(split($"text", " ")).cast("long").as("n_tok"))
        .withColumn("tok_before", coalesce(sum($"n_tok").over(w), lit(0L)))
        .select($"doc_id", $"bucket",
          floor($"tok_before" / CtxLen).as("seq_id"),
          ($"tok_before" % CtxLen).as("tok_offset"),
          $"n_tok")
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (
              SELECT doc_id, doc_id % 8 AS bucket,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              FROM documents),
            c AS (
              SELECT doc_id, bucket, n_tok,
                     COALESCE(sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
              FROM t)
            SELECT doc_id, bucket,
                   CAST(floor(tok_before / 2048) AS BIGINT) AS seq_id,
                   CAST(tok_before % 2048 AS BIGINT) AS tok_offset, n_tok
            FROM c ORDER BY doc_id""")
  )

  /** Data mixing — per-(lang, source) stratum token accounting and the
    * deterministic downsampling rate that flattens the mixture toward a
    * uniform target (rate = target_share / actual_share, capped at 1):
    * the table a mixing step consumes to decide how hard to downweight
    * dominant strata while keeping rare ones whole (the Pile/ROOTS-style
    * recipe; a non-uniform target only changes the numerator).
    *
    * Scale shape: token counts reduce in the scan projection; ONE hash
    * aggregate on the stratum key with map-side combine carries
    * (stratum, count) partials; totals ride a broadcast 1-row aggregate
    * of the (bounded, ≤ langs × sources) stratum table. The corpus is
    * read once and never shuffled. */
  val domainMix: GraftQuery = GraftQuery(
    "llm_domain_mix",
    (s, dir) => {
      import s.implicits._
      val strata = Tables.documents(s, dir)
        .select($"lang", $"source",
          size(split($"text", " ")).cast("long").as("n_tok"))
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      val tot = strata.agg(sum($"n_tokens").as("tot_tokens"),
        count(lit(1)).as("n_strata"))
      strata.crossJoin(broadcast(tot))
        .select($"lang", $"source", $"n_docs", $"n_tokens",
          round($"n_tokens" / $"tot_tokens", 6).as("share"),
          round(least(lit(1.0),
            ($"tot_tokens" / $"n_strata") / $"n_tokens"), 6).as("mix_rate"))
        .orderBy($"lang", $"source")
    },
    Some("""WITH strata AS (
              SELECT lang, source, count(*) AS n_docs,
                     CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
              FROM documents GROUP BY lang, source),
            tot AS (
              SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                     count(*) AS n_strata
              FROM strata)
            SELECT lang, source, n_docs, n_tokens,
                   (round(n_tokens / tot_tokens, 6) + 0.0) AS share,
                   (round(least(1.0, (tot_tokens / n_strata) / n_tokens), 6) + 0.0) AS mix_rate
            FROM strata, tot ORDER BY lang, source""")
  )

  /** Training-dataloader shards. At 100 TB size this ∝ cluster (one
    * shard per reader worker group); 8 keeps the fixture legible. */
  private[graft] val NumShards = 8L

  /** Dataloader sharding — the deterministic global shuffle + shard
    * assignment a training job consumes: each doc gets a pseudorandom
    * sort key (md5 of its id — engine- and retry-reproducible, the
    * llm_train_split/llm_sample_stratified discipline: never rand()),
    * a shard = key mod NumShards, and a position within its shard in
    * key order. Readers stream shard files in pos order and see a
    * uniformly shuffled, disjoint, gap-free slice of the corpus.
    *
    * Scale shape: key + shard derive in the scan projection; the ONLY
    * shuffle is the partition-by-shard exchange, and the per-shard
    * position is a window sort WITHIN each shard — no global sort
    * anywhere. This is exactly the write side of
    * `partitionBy(shard) sortBy(key)`: at 100 TB the window becomes the
    * sorted shard file write, and NumShards scales with the cluster so
    * each shard sorts within executor memory (spilling if not). */
  val shardShuffle: GraftQuery = GraftQuery(
    "llm_shard_shuffle",
    (s, dir) => {
      import s.implicits._
      val keyed = Tables.documents(s, dir)
        .select($"doc_id", expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
          .as("hk"))
        .withColumn("shard", pmod($"hk", lit(NumShards)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"shard").orderBy($"hk", $"doc_id")
      keyed
        .select($"doc_id", $"shard",
          row_number().over(w).cast("long").as("pos"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH k AS (
               SELECT doc_id,
                      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
               FROM documents)
             SELECT doc_id, hk % $NumShards AS shard,
                    CAST(row_number() OVER (PARTITION BY hk % $NumShards
                      ORDER BY hk, doc_id) AS BIGINT) AS pos
             FROM k ORDER BY doc_id""")
  )

  /** Sliding-window chunking — the RAG/pretraining segmentation that cuts
    * each document into fixed-size token windows with overlap (window 32,
    * stride 24 → 8 tokens of context shared between adjacent chunks so
    * no boundary-straddling phrase is lost to both; sized so the
    * fixture's 10–99-token docs genuinely produce 1–4 overlapping
    * chunks). Emits one row per chunk with its token coordinates and an
    * md5 of the chunk text, so the oracle pins the SLICED CONTENT
    * byte-exactly, not just the arithmetic.
    *
    * Scale shape: pure scan projection + explode — tokenize once, emit
    * ~n_tok/stride rows per doc, zero shuffles at any corpus size (the
    * final sort is the oracle-determinism rule only). The chunk count is
    * closed-form (1 + ceil((n−W)/stride) as integer arithmetic), so no
    * per-doc iteration anywhere. */
  val chunkSliding: GraftQuery = GraftQuery(
    "llm_chunk_sliding",
    (s, dir) => {
      import s.implicits._
      val W = 32L
      val Stride = 24L
      Tables.documents(s, dir)
        .select($"doc_id", split($"text", " ").as("toks"))
        .withColumn("n_tok", size($"toks").cast("long"))
        .withColumn("n_chunks",
          lit(1L) + greatest(lit(0L),
            expr(s"(n_tok - $W + $Stride - 1) DIV $Stride")))
        .select($"doc_id", $"toks", $"n_tok",
          explode(sequence(lit(0L), $"n_chunks" - 1)).as("chunk_id"))
        .withColumn("start_tok", $"chunk_id" * lit(Stride))
        .withColumn("len_tok", least(lit(W), $"n_tok" - $"start_tok"))
        .select($"doc_id", $"chunk_id", $"start_tok", $"len_tok",
          md5(array_join(slice($"toks", ($"start_tok" + 1).cast("int"),
            $"len_tok".cast("int")), " ")).as("chunk_md5"))
        .orderBy($"doc_id", $"chunk_id")
    },
    Some("""WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              FROM documents),
            c AS (SELECT doc_id, toks, n_tok,
                         1 + greatest(0, (n_tok - 32 + 23) // 24) AS n_chunks
                  FROM t),
            e AS (SELECT doc_id, toks, n_tok,
                         CAST(unnest(range(0, n_chunks)) AS BIGINT) AS chunk_id
                  FROM c)
            SELECT doc_id, chunk_id,
                   chunk_id * 24 AS start_tok,
                   least(32, n_tok - chunk_id * 24) AS len_tok,
                   md5(array_to_string(
                     toks[chunk_id * 24 + 1 : chunk_id * 24 + least(32, n_tok - chunk_id * 24)],
                     ' ')) AS chunk_md5
            FROM e ORDER BY doc_id, chunk_id""")
  )

  /** Deterministic weighted sampling without replacement — priority
    * sampling (Duffield–Lund–Thorup): each doc gets priority w/u with
    * u a uniform hash-derived variate and w its weight (here n_chars:
    * sample long documents preferentially); the k highest priorities are
    * the sample. Unlike the A-ES exponential-key scheme this needs NO
    * transcendental function — priority is one IEEE division of two
    * integer-derived doubles, which both engines round identically, so
    * the sample is bit-reproducible across engines, runs, retries, and
    * repartitioning (the trainSplit/sampleStratified rule: never
    * `rand()`).
    *
    * Scale shape: priority is a scan projection; top-k is
    * TakeOrderedAndProject (per-partition heaps + driver merge of k
    * rows) — no global sort, no shuffle beyond the k-row gather, at any
    * corpus size. */
  val sampleWeighted: GraftQuery = GraftQuery(
    "llm_sample_weighted",
    (s, dir) => {
      import s.implicits._
      // u ∈ (0, 1): the 15-hex-digit md5 prefix over 2^60 (the
      // sampleStratified idiom); priority = w / u = w * 2^60 / h.
      val h = expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS DOUBLE)")
      Tables.documents(s, dir)
        .select($"doc_id", $"lang", $"n_chars",
          round($"n_chars" * lit(1152921504606846976L).cast("double") / h, 4)
            .as("priority"))
        .orderBy($"priority".desc, $"doc_id")
        .limit(100)
    },
    Some("""SELECT doc_id, lang, n_chars,
                   (round(n_chars * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                                AS BIGINT), 4) + 0.0) AS priority
            FROM documents
            ORDER BY priority DESC, doc_id LIMIT 100""")
  )

  /** PER-GROUP deterministic weighted reservoir (r15 verdict item 4 —
    * §12's last clause landed): the k highest-priority docs PER LANG,
    * priorities the same deterministic w/u device as
    * llm_sample_weighted (w = n_chars, u from the 15-hex md5 prefix —
    * never `rand()`), but computed by a BOUNDED-STATE reservoir
    * aggregate (functions.ReservoirTopK): ≤ k pairs per (group ×
    * partition), map-side fold with an O(1) reject common case,
    * associative merge — the stratum sampler whose STATE is a value a
    * streaming pipeline can persist per wave and re-merge
    * (stream_sample_reservoir does exactly that). Spark 4's own
    * WindowGroupLimit makes the rank-window twin comparably bounded
    * (measured at parity on the r16 hot-lang ladder, BASELINE.md — see
    * ReservoirTopK's adjudication); the aggregate form buys the
    * mergeable state and skips the map-side full sort. NewOps16Spec
    * pins partition-split invariance (1/7/13-way repartitions,
    * identical output) and window-rank parity. */
  val sampleReservoir: GraftQuery = GraftQuery(
    "llm_sample_reservoir",
    (s, dir) => {
      import s.implicits._
      val res = udaf(new graft.functions.ReservoirTopK(20))
      val h = expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS DOUBLE)")
      Tables.documents(s, dir)
        .select($"lang", $"doc_id",
          ($"n_chars" * lit(1152921504606846976L).cast("double") / h).as("p"))
        .groupBy($"lang")
        .agg(res($"p", $"doc_id").as("r"))
        .select($"lang", explode($"r").as("e"))
        .select($"lang", $"e._2".as("doc_id"),
          graft.GraftQuery.roundNorm($"e._1", 4).as("priority"))
        .orderBy($"lang", $"priority".desc, $"doc_id")
    },
    Some("""WITH pr AS (
              SELECT lang, doc_id,
                     n_chars * CAST(1152921504606846976 AS DOUBLE)
                       / CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                              AS BIGINT) AS p
              FROM documents),
            r AS (SELECT lang, doc_id, p,
                         row_number() OVER (PARTITION BY lang
                           ORDER BY p DESC, doc_id) AS rn
                  FROM pr)
            SELECT lang, doc_id, (round(p, 4) + 0.0) AS priority
            FROM r WHERE rn <= 20
            ORDER BY lang, priority DESC, doc_id""")
  )

  /** Linear quality-classifier INFERENCE (the fastText-style learned
    * filter, as opposed to llm_quality's hand-tuned heuristic): a fixed
    * weight vector over engineered per-document features, squashed
    * through a sigmoid. Model application at corpus scale is a pure
    * projection — no shuffle at all until the final presentation sort;
    * at 100 TB this runs at scan speed inside whole-stage codegen, which
    * is exactly why production pipelines distill big quality models into
    * linear scorers for the first pass. Weights are frozen constants
    * (a real deployment broadcasts them; at this feature count inlining
    * is the same plan). */
  /** The classifier projection itself, one row per input doc, UNSORTED —
    * shared by the batch query and the streaming twin (stream_quality),
    * whose per-micro-batch increment is exactly this projection over the
    * batch. */
  private[graft] def classifierScores(docs: DataFrame,
                                      extra: Seq[Column] = Nil): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = TF.tokens($"text")
    val nTok = size(toks).cast("double")
    // Features: log-length, mean token length, distinct-token ratio,
    // ratio of "content" marker tokens (stand-ins for stopword lists).
    val x1 = log(lit(1.0) + nTok)
    val x2 = $"n_chars".cast("double") / nTok
    val x3 = size(array_distinct(toks)).cast("double") / nTok
    val x4 = size(filter(toks, t => t.isin("spark", "join", "filter")))
      .cast("double") / nTok
    val z = lit(-3.25) + lit(0.45) * x1 + lit(0.10) * x2 +
      lit(1.5) * x3 + lit(2.0) * x4
    // Threshold the ROUNDED score (the llm_sim_range rule): the keep
    // bit and p_keep must tell one story, and raw-score thresholding
    // could disagree with the rounded value right at the boundary.
    val score = round(lit(1.0) / (lit(1.0) + exp(-z)), 4)
    docs.select(Seq($"doc_id", score.as("p_keep"),
      (score >= 0.5).as("keep")) ++ extra: _*)
  }

  /** The classifier's DuckDB CTE chain, ending in
    * `clf(doc_id, p_keep)` — shared by the classifier oracle,
    * stream_quality's, and llm_curate's absorbed-signal conjunct. */
  private[graft] val classifierCtes: String =
    """clf_f AS (
         SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
                CAST(n_chars AS DOUBLE) AS n_chars,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dis,
                CAST(len(list_filter(string_split(text, ' '),
                     t -> t IN ('spark', 'join', 'filter'))) AS DOUBLE) AS n_mark
         FROM documents),
       clf_z AS (
         SELECT doc_id,
                -3.25 + 0.45 * ln(1.0 + n_tok) + 0.10 * (n_chars / n_tok)
                     + 1.5 * (n_dis / n_tok) + 2.0 * (n_mark / n_tok) AS z
         FROM clf_f),
       clf AS (
         SELECT doc_id, (round(1.0 / (1.0 + exp(-z)), 4) + 0.0) AS p_keep
         FROM clf_z)"""

  /** The oracle for the classifier — shared verbatim with stream_quality
    * (batching must not change one score). */
  private[graft] val classifierOracle: String =
    s"""WITH $classifierCtes
        SELECT doc_id, p_keep, p_keep >= 0.5 AS keep
        FROM clf ORDER BY doc_id"""

  val qualityClassifier: GraftQuery = GraftQuery(
    "llm_quality_classifier",
    (s, dir) => {
      import s.implicits._
      classifierScores(Tables.documents(s, dir)).orderBy($"doc_id")
    },
    Some(classifierOracle)
  )

  /** Winnowing fingerprints (Schleimer et al., the MOSS scheme): hash
    * every k-token gram; a gram is a fingerprint iff it is the RIGHTMOST
    * MINIMUM of at least one full window of w consecutive grams (for
    * docs with fewer than w grams, of the whole gram list). That is the
    * exact selection with the exact guarantee — every w-window
    * contributes ≥1 fingerprint — which makes winnowed sets comparable
    * across documents regardless of offset shifts.
    *
    * "∃ window where p is rightmost min" is computed WITHOUT enumerating
    * windows: p qualifies iff L(p) + R(p) ≥ min(w, n) − 1, where L
    * counts consecutive left neighbors with hash ≥ h(p) and R counts
    * consecutive right neighbors with hash > h(p) (both bounds-checked,
    * both capped at w−1 by construction; the ≥/> asymmetry IS the
    * rightmost-tie rule). Equivalence: such a run lets a w-window slide
    * to cover exactly a ≤ L left and w−1−a ≤ R right neighbors, and
    * conversely a window's rightmost min has exactly such runs. A first
    * cut used "min of the window ending at p", which fails the coverage
    * guarantee — a small hash just left of a window suppresses every
    * selection inside it (caught by CorpusSpec's coverage property).
    *
    * Plan shape: gram hashing AND the run-counting selection are in-row
    * (`transform` over the gram array with `element_at` neighbor
    * probes), so fingerprinting is scan-speed with zero shuffles; the
    * output explode is presentation only. At 100 TB this feeds the same
    * bucket-join dedup as MinHash at ~2/w the all-grams index size. */
  /** Containment floor for llm_dedup_winnow (declared before the queries
    * that capture it — the forward-ref-yields-null trap). */
  private val WinnowTau = 0.5

  /** Shared DuckDB CTE chain computing the winnowing selection (used by
    * llm_winnow's oracle and llm_dedup_winnow's): th = per-token hashes,
    * g = per-doc gram-hash arrays, e = exploded positions, r = positions
    * with left/right run counts. */
  private val winnowCtes: String = {
    def sqlRun(fn: String, op: String): String =
      s"""CASE WHEN $fn(fp, 1) OVER w $op fp THEN
            CASE WHEN $fn(fp, 2) OVER w $op fp THEN
              CASE WHEN $fn(fp, 3) OVER w $op fp THEN 3 ELSE 2 END
            ELSE 1 END
          ELSE 0 END"""
    s"""th AS (
          SELECT doc_id,
                 list_transform(string_split(text, ' '),
                   t -> CAST(ascii(t) * 31 + length(t) AS BIGINT)) AS h
          FROM documents),
        g AS (
          SELECT doc_id,
                 list_transform(range(1, greatest(len(h) - 1, 1)),
                   i -> list_reduce(h[i:i+2],
                          (a, b) -> (a * 131 + b) % 1000000007)) AS g
          FROM th WHERE len(h) >= 3),
        e AS (
          SELECT doc_id, CAST(u.i AS INT) AS pos, g[u.i] AS fp, len(g) AS n
          FROM g, unnest(range(1, len(g) + 1)) AS u(i)),
        r AS (
          SELECT doc_id, pos, fp, n,
                 ${sqlRun("lag", ">=")} + ${sqlRun("lead", ">")} AS runs
          FROM e WINDOW w AS (PARTITION BY doc_id ORDER BY pos))"""
  }

  val winnow: GraftQuery = GraftQuery(
    "llm_winnow",
    (s, dir) => {
      import s.implicits._
      val k = 3 // gram width in tokens
      val w = 4 // winnow window in grams
      // Native one-pass expression (gram hashing + run-count selection in
      // a JIT'd row-level loop — the interpreted HOF formulation measured
      // ~12x slower at sf0.1); hash + selection semantics documented on
      // WinnowSelect and pinned by the oracle + CorpusSpec reference.
      Tables.documents(s, dir)
        .filter(size(TF.tokens($"text")) >= k)
        .select($"doc_id",
          explode(graft.functions.ArrayFunctions.winnowSelect(
            s, TF.tokens($"text"), k, w)).as("sel"))
        .select($"doc_id", $"sel.pos".as("pos"), $"sel.fp".as("fp"))
        .orderBy($"doc_id", $"pos")
    },
    Some(s"""WITH $winnowCtes
             SELECT doc_id, pos, fp FROM r WHERE runs >= least(4, n) - 1
             ORDER BY doc_id, pos""")
  )

  /** Winnowing-fingerprint DEDUP — the pipeline the fingerprints exist
    * for (the MOSS comparison stage): index docs by their winnowed
    * fingerprint sets, candidate pairs from an equi-join on shared
    * fingerprints, containment = shared / min(|A|,|B|) against a 0.5
    * floor. Same shape as the MinHash band join but at ~2/w the index
    * size, and (unlike MinHash) with the winnowing guarantee that any
    * shared run of w+k−1 tokens yields a shared fingerprint.
    *
    * Scale shape: the index is one scan projection (native WinnowSelect);
    * the candidate join is an equi-join on the 8-byte fingerprint — a
    * fingerprint shared by m docs fans out m² pairs, so production
    * applies the same df-cap as llm_dedup_containment_capped on
    * boilerplate-hot fingerprints (documented trade; the fixture has no
    * such hot spot). Containment thresholds the ROUNDED ratio. */
  /** Document-frequency cap for the capped winnow variant: fingerprints
    * shared by more than this many docs are boilerplate (license
    * headers, templates) whose m² candidate fanout is exactly the hot
    * spot that blows up the pair join at web scale — MOSS drops them
    * from the index, the same trade as llm_dedup_containment_capped.
    * The fixture's selected-fingerprint df tail reaches 17 at sf0.001,
    * so the cap demonstrably engages. */
  private[graft] val WinnowDfCap = 6

  /** Merge rounds the BPE trainer learns (and the oracle unrolls). */
  private[graft] val BpeMergeCount = 8

  /** Shared dataflow for the winnow-dedup family — `dfCap` gates the
    * index on fingerprint document frequency BEFORE the candidate join
    * (set sizes `nf` are recomputed over the kept fingerprints, so
    * containment stays a true ratio over the indexed sets). */
  private def winnowDedupPipeline(s: SparkSession, dir: String,
                                  dfCap: Option[Int]): DataFrame = {
    import s.implicits._
    val k = 3
    val w = 4
    val sel = Tables.documents(s, dir)
      .filter(size(TF.tokens($"text")) >= k)
      .select($"doc_id",
        array_distinct(transform(
          graft.functions.ArrayFunctions.winnowSelect(s, TF.tokens($"text"), k, w),
          x => x.getField("fp"))).as("fps"))
      .select($"doc_id", size($"fps").as("nf"), explode($"fps").as("fp"))
    // df-cap: one hash aggregate on fp, then an anti equi-join back, and
    // nf recomputed over the kept index (one more doc-keyed aggregate +
    // join — the price of a true post-cap containment denominator). The
    // uncapped path keeps nf carried in-row from the array projection:
    // zero extra joins.
    val fps = dfCap match {
      case Some(cap) =>
        // The capped branch references the index four times (df count,
        // anti join, nf count, pair join); materialize the winnow
        // projection once instead of re-running the fingerprint scan
        // per reference (the multi-consumer lineage-cut convention).
        val selM = sel.select($"doc_id", $"fp").localCheckpoint()
        val hot = selM.groupBy($"fp").agg(count(lit(1)).as("df"))
          .filter($"df" > cap).select($"fp")
        val kept = selM.join(hot.hint("shuffle_hash"), Seq("fp"), "left_anti")
          .localCheckpoint()
        kept.join(kept.groupBy($"doc_id").agg(count(lit(1)).as("nf")), "doc_id")
      case None => sel
    }
    fps.as("a")
      .join(fps.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("u"), $"b.doc_id".as("v"),
        $"a.nf".as("nu"), $"b.nf".as("nv"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("overlap",
        round($"shared".cast("double") / least($"nu", $"nv"), 4))
      .filter($"overlap" >= WinnowTau)
      .select($"u", $"v", $"shared", $"overlap")
      .orderBy($"u", $"v")
  }

  private def winnowDedupOracle(dfCap: Option[Int]): String = {
    val keep = dfCap match {
      case Some(cap) =>
        s"""dfc AS (SELECT fp, count(*) AS df FROM sel0 GROUP BY fp),
            sel AS (SELECT s.doc_id, s.fp FROM sel0 s JOIN dfc USING (fp)
                    WHERE df <= $cap)"""
      case None => "sel AS (SELECT doc_id, fp FROM sel0)"
    }
    s"""WITH $winnowCtes,
          sel0 AS (SELECT DISTINCT doc_id, fp FROM r
                   WHERE runs >= least(4, n) - 1),
          $keep,
          fps AS (SELECT doc_id, count(*) AS nf FROM sel GROUP BY doc_id),
          cand AS (
            SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS shared
            FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT u, v, shared,
               (round(shared * 1.0 / least(fa.nf, fb.nf), 4) + 0.0) AS overlap
        FROM cand JOIN fps fa ON fa.doc_id = u JOIN fps fb ON fb.doc_id = v
        WHERE round(shared * 1.0 / least(fa.nf, fb.nf), 4) >= $WinnowTau
        ORDER BY u, v"""
  }

  val winnowDedup: GraftQuery = GraftQuery(
    "llm_dedup_winnow",
    (s, dir) => winnowDedupPipeline(s, dir, dfCap = None),
    Some(winnowDedupOracle(dfCap = None))
  )

  /** The production form of llm_dedup_winnow: boilerplate-hot
    * fingerprints (df > WinnowDfCap) leave the index before the
    * candidate join. Bounds the per-fingerprint pair fanout at cap² —
    * the knob that keeps the MOSS comparison stage linear-ish on web
    * corpora where license headers and templates make some fingerprints
    * corpus-hot. The cap filter itself is one hash aggregate plus a
    * left-anti equi-join (shuffle_hash — the hot set is small but
    * O(boilerplate), so never a guessed broadcast). */
  val winnowDedupCapped: GraftQuery = GraftQuery(
    "llm_dedup_winnow_capped",
    (s, dir) => winnowDedupPipeline(s, dir, dfCap = Some(WinnowDfCap)),
    Some(winnowDedupOracle(dfCap = Some(WinnowDfCap)))
  )

  /** BPE merge LEARNING (Sennrich et al.) — the training counterpart of
    * llm_token_bpe's apply-side estimate: learn the first MergeCount
    * merge rules from corpus word frequencies. Each round counts adjacent
    * symbol pairs weighted by word frequency, takes the argmax (ties:
    * lexicographic), and rewrites the vocabulary by greedy left-to-right
    * merge application.
    *
    * Scale shape — the shape HuggingFace-style distributed trainers use:
    * the ONE corpus-sized stage is the word-frequency aggregate (explode
    * + hash agg with map-side partials); every merge round then runs on
    * the compact (word, freq) table, independent of corpus size. Rounds
    * are driven eagerly via localCheckpoint (the iterative-algorithm
    * lineage cut), the argmax is TakeOrderedAndProject (never a full
    * sort), and the winning pair rides a 1-row broadcast into the
    * rewrite — no collect anywhere. The greedy rewrite is a left fold
    * (`aggregate`): folding is equivalent to the scan-and-skip definition
    * because a merged output token is strictly longer than the merge's
    * left side, so it can never re-trigger the same rule at the position
    * it just consumed (BpeSpec proves the equivalence against a direct
    * reference implementation).
    *
    * Oracle: the K chained argmax-dependent rewrites ARE expressible as
    * one ANSI query once two devices combine — (1) MATERIALIZED CTEs (the
    * kcore/HITS lesson: without them DuckDB re-inlines each round into
    * the next and the plan is 2^K), and (2) a marker ENCODING of the
    * symbol sequence (each symbol wrapped in U+0002…U+0003 markers, which
    * cannot occur in the printable corpus) under which
    * SQL `replace()` — left-to-right, non-overlapping — is EXACTLY the
    * greedy scan-and-skip merge, because token boundaries are explicit in
    * the string and a merged token can never re-match as the left side of
    * the rule that created it. Each round is then: split markers → pair
    * count → ORDER BY cnt DESC, a, b LIMIT 1 → one `replace` over the
    * vocabulary. BpeSpec additionally pins every learned (rank, pair,
    * freq) against an independent driver-side reference.
    *
    * The learned merge table is a TRAINED TOKENIZER — a per-dataset
    * artifact — so it persists via the Layouts protocol and
    * llm_bpe_apply reads the same frozen rules (train once, apply
    * everywhere: the LM/labels/codebook discipline). */
  private[graft] def learnedMerges(s: SparkSession, dir: String): DataFrame = {
    Layouts.parquet(s, Layouts.pathOf("bpe", dir),
        Layouts.fingerprint(Tables.documents(s, dir), "doc_id", "text"))(trainMerges(s, dir))
  }

  /** The unrolled train/apply CTE chain shared by both BPE oracles: w0 is
    * the marker-encoded word-frequency table; each round t contributes
    * b_t (the argmax pair) and w_t (the vocabulary after applying it). */
  private def bpeOracleCtes: String = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT word, count(*) AS freq,
        |         chr(2) || array_to_string(string_split(word, ''), chr(3)||chr(2)) || chr(3) AS enc
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word)""".stripMargin
    val rounds = (1 to BpeMergeCount).map { t =>
      s"""b$t AS MATERIALIZED (
         |  SELECT $t AS rank, a, b, cnt FROM (
         |    SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |    FROM (SELECT freq,
         |                 unnest(list_transform(range(1, len(s)), i -> {'a': s[i], 'b': s[i+1]})) AS p
         |          FROM (SELECT freq, string_split(trim(enc, chr(2)||chr(3)), chr(3)||chr(2)) AS s
         |                FROM w${t - 1}))
         |    GROUP BY 1, 2)
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |w$t AS MATERIALIZED (
         |  SELECT w.word, w.freq,
         |         replace(w.enc, chr(2)||b.a||chr(3)||chr(2)||b.b||chr(3),
         |                        chr(2)||b.a||b.b||chr(3)) AS enc
         |  FROM w${t - 1} w, b$t b)""".stripMargin
    }
    (w0 +: rounds).mkString("WITH ", ",\n", "")
  }

  private def bpeTrainOracle: String = {
    val union = (1 to BpeMergeCount).map(t => s"SELECT * FROM b$t").mkString(" UNION ALL ")
    s"""$bpeOracleCtes
       |SELECT rank, a AS "left", b AS "right", cnt AS pair_freq
       |FROM ($union) ORDER BY rank""".stripMargin
  }

  private def bpeApplyOracle: String =
    s"""$bpeOracleCtes
       |SELECT d.doc_id, count(*) AS n_words,
       |       CAST(sum(len(w.enc) - len(replace(w.enc, chr(2), ''))) AS BIGINT) AS n_pieces
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) d
       |JOIN w$BpeMergeCount w USING (word)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  val bpeTrain: GraftQuery = GraftQuery(
    "llm_bpe_train",
    (s, dir) => {
      import s.implicits._
      learnedMerges(s, dir).orderBy($"rank")
    },
    Some(bpeTrainOracle)
  )

  private def trainMerges(s: SparkSession, dir: String): DataFrame = {
    {
      import s.implicits._
      val kMerges = BpeMergeCount
      var words = Tables.documents(s, dir)
        .select(explode(TF.tokens($"text")).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("freq"))
        // split on "" keeps a trailing empty element (Java split semantics
        // with limit -1); strip it or the last pair would be (c, "").
        .select($"freq",
          filter(split($"word", ""), x => x =!= "").as("syms"))
        .localCheckpoint()
      val merges = scala.collection.mutable.ArrayBuffer[DataFrame]()
      for (t <- 1 to kMerges) {
        val best = words
          .filter(size($"syms") > 1)
          .select($"freq", explode(expr(
            "transform(sequence(1, size(syms) - 1), " +
              "i -> struct(syms[i - 1] AS a, syms[i] AS b))")).as("p"))
          .groupBy($"p.a".as("a"), $"p.b".as("b"))
          .agg(sum($"freq").as("cnt"))
          .orderBy($"cnt".desc, $"a", $"b").limit(1)
          .select(lit(t).as("rank"), $"a", $"b", $"cnt")
          .localCheckpoint()
        merges += best
        words = words
          .crossJoin(broadcast(best.select($"a".as("ma"), $"b".as("mb"))))
          .select($"freq",
            aggregate($"syms", array().cast("array<string>"),
              (acc, x) => when(
                size(acc) > 0 && element_at(acc, -1) === $"ma" && x === $"mb",
                concat(slice(acc, lit(1), size(acc) - 1),
                  array(concat($"ma", $"mb"))))
                .otherwise(concat(acc, array(x)))).as("syms"))
          .localCheckpoint()
      }
      merges.reduce(_ unionByName _)
        .select($"rank", $"a".as("left"), $"b".as("right"),
          $"cnt".as("pair_freq"))
        .orderBy($"rank")
    }
  }

  /** BPE APPLICATION — tokenize the corpus with the trained merge rules
    * (closes the train→apply loop; llm_token_bpe's regex form is the
    * heuristic estimate, this is the real subword count under the
    * learned tokenizer).
    *
    * Scale shape — the production tokenizer-cache shape: merges apply at
    * the VOCABULARY level (distinct words × 8 rules × word length — the
    * per-word rewrite is the same fold the trainer used, nested inside a
    * fold over the frozen rule list), and documents join the resulting
    * word → piece-count cache back by word. The corpus-sized stages are
    * one explode-aggregate and one equi-join on the word — never a
    * per-occurrence re-tokenization. The frozen rules ride a 1-row
    * broadcast (collect_list of 8 structs, array_sort by rank).
    *
    * Oracle: reuses the train oracle's unrolled CTE chain — the trainer's
    * vocabulary AFTER round K (w_K) IS the vocabulary tokenized under the
    * first K rules, so per-word piece count = the number of U+0002 markers
    * left in its encoding; documents join that cache by word exactly as
    * the Spark plan does. BpeSpec additionally re-applies the reference
    * scan-and-skip tokenizer per word and compares every per-doc piece
    * count exactly. */
  /** Per-WORD piece counts under the learned BPE merges — the tokenizer
    * applied to the vocabulary once (vocab-sized, never corpus-sized);
    * shared by llm_bpe_apply (per-doc rollup) and
    * llm_tokenizer_fertility (per-source rollup). */
  private def appliedPieces(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mergesRow = broadcast(learnedMerges(s, dir)
      .agg(array_sort(collect_list(struct($"rank", $"left", $"right")))
        .as("ms")))
    Tables.documents(s, dir)
      .select(explode(TF.tokens($"text")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("n_occ"))
      .crossJoin(mergesRow)
      .select($"word", $"n_occ",
        aggregate($"ms",
          filter(split($"word", ""), x => x =!= ""),
          (syms, mg) => aggregate(syms, array().cast("array<string>"),
            (acc, x) => when(
              size(acc) > 0 &&
                element_at(acc, -1) === mg.getField("left") &&
                x === mg.getField("right"),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(mg.getField("left"), mg.getField("right")))))
              .otherwise(concat(acc, array(x))))).as("syms"))
      .select($"word", size($"syms").as("n_pieces"))
  }

  val bpeApply: GraftQuery = GraftQuery(
    "llm_bpe_apply",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", explode(TF.tokens($"text")).as("word"))
        .join(appliedPieces(s, dir).hint("shuffle_hash"), "word")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"), sum($"n_pieces").as("n_pieces"))
        .orderBy($"doc_id")
    },
    Some(bpeApplyOracle)
  )

  /** Tokenizer fertility by source — pieces-per-word under the learned
    * BPE, the tokenizer-quality-by-domain readout every multilingual /
    * multi-domain corpus audit runs: a source whose fertility is 2× the
    * corpus mean is paying twice the context budget per word (the
    * tokenizer under-serves that domain), and fertility drift after a
    * tokenizer retrain is a regression gate. Exact integer sufficient
    * statistics (word and piece counts); fertility is ONE division per
    * source, rounded at the projection.
    *
    * Scale shape: the BPE applies to the VOCABULARY once (vocab-sized
    * crossJoin against the broadcast 1-row merge list — the bpe_apply
    * plan), then one shuffle-hash join tags corpus words and one hash
    * aggregate folds onto the bounded source domain. */
  val tokenizerFertility: GraftQuery = GraftQuery(
    "llm_tokenizer_fertility",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", $"source", explode(TF.tokens($"text")).as("word"))
        .join(appliedPieces(s, dir).hint("shuffle_hash"), "word")
        .groupBy($"source")
        .agg(count_distinct($"doc_id").as("n_docs"),
          count(lit(1)).as("n_words"), sum($"n_pieces").as("n_pieces"))
        .select($"source", $"n_docs", $"n_words", $"n_pieces",
          round($"n_pieces".cast("double") / $"n_words".cast("double"), 6)
            .as("fertility"))
        .orderBy($"source")
    },
    Some {
      s"""$bpeOracleCtes
         |SELECT d.source, count(DISTINCT d.doc_id) AS n_docs,
         |       count(*) AS n_words,
         |       CAST(sum(len(w.enc) - len(replace(w.enc, chr(2), ''))) AS BIGINT) AS n_pieces,
         |       (round(CAST(sum(len(w.enc) - len(replace(w.enc, chr(2), ''))) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) + 0.0) AS fertility
         |FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
         |      FROM documents) d
         |JOIN w$BpeMergeCount w USING (word)
         |GROUP BY d.source ORDER BY d.source""".stripMargin
    }
  )

  /** Corpus-wide top bigrams with document frequency — the boilerplate /
    * template detector one level above llm_vocab_topk's unigrams: a
    * bigram whose term count dwarfs its doc count is a within-doc
    * repetition artifact, one with df ≈ corpus size is boilerplate
    * (navigation chrome, license headers) that the dedup family should
    * have caught — this is the diagnostic that says WHICH strings to
    * feed the winnowing df-cap.
    *
    * The bigram list is built IN-ROW (one `transform` over the token
    * array — no self-join on position, no second explode), so the plan
    * is scan → explode → one hash aggregate → top-k: identical cost
    * shape to vocab_topk. One-token docs contribute an empty list on
    * both engines (Spark's `sequence(1, 0)` would DESCEND — the guard
    * matches DuckDB's empty `range(1, 1)`). */
  val ngramTopK: GraftQuery = GraftQuery(
    "llm_ngram_topk",
    (s, dir) => {
      import s.implicits._
      // Single split projection — the token array materializes once per
      // row instead of once per split() occurrence in the transform
      // (measured 3× CPU on the pair family; same fix here).
      val bigrams = when(size($"sp") >= 2, expr(
        """transform(sequence(1, size(sp) - 1),
             i -> concat(element_at(sp, i), ' ', element_at(sp, i + 1)))"""))
        .otherwise(array().cast("array<string>"))
      Tables.documents(s, dir)
        .select($"doc_id", split($"text", " ").as("sp"))
        .select($"doc_id", explode(bigrams).as("bigram"))
        .groupBy($"bigram")
        .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("n_docs"))
        .orderBy($"n".desc, $"bigram")
        .limit(50)
    },
    Some("""SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(sp)),
                                               i -> sp[i] || ' ' || sp[i + 1])) AS bigram
                  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents))
            GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""")
  )

  /** Skip-gram (center, context) token pairs within a ±2 window, built
    * IN-ROW like ngramTopK's bigrams (one `transform` per offset, a
    * second in-row explode for the two orientations — no positional
    * self-join, no window): scan → explode → hash aggregate. The pair
    * stream is 2·W rows per token, map-side combined. Shared by
    * llm_cooccurrence and llm_pmi. */
  private[graft] def skipgramPairs(s: SparkSession, dir: String): DataFrame =
    skipgramPairsOf(Tables.documents(s, dir))

  /** FORWARD skip-gram pairs over an arbitrary doc frame — the
    * per-batch form the streaming twin consumes (pairs are per-doc
    * pure, so union-of-batches equals the whole-corpus pair multiset
    * exactly). Only the forward orientation is emitted: the symmetric
    * table is recovered AFTER the first aggregate by `symmetrize`
    * (n(c,x) = fwd(c,x) + fwd(x,c)), which halves the explode volume
    * and the aggregate's probe stream — the swap runs on the
    * vocab²-bounded count table, never on corpus rows. */
  private[graft] def skipgramPairsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // sequence(1, 0) would DESCEND (the ngramTopK guard); short docs
    // contribute an empty list on both engines. One split projection —
    // the token array materializes once per row.
    def fwd(o: Int) = when(size($"sp") >= o + 1, expr(
      s"""transform(sequence(1, size(sp) - $o),
            i -> struct(element_at(sp, i) AS c,
                        element_at(sp, i + $o) AS x))"""))
      .otherwise(expr("CAST(array() AS array<struct<c:string,x:string>>)"))
    docs
      .select(split($"text", " ").as("sp"))
      .select(explode(concat(fwd(1), fwd(2))).as("p"))
      .select($"p.c".as("c"), $"p.x".as("x"))
  }

  /** Symmetric pair counts from FORWARD counts: both orientations of a
    * window co-occurrence are the same evidence, so n(c,x) =
    * fwd(c,x) + fwd(x,c) — one swap-union + re-aggregate on the
    * vocab²-bounded count table (localCheckpointed so the swap branch
    * does not replay the corpus pass). */
  private[graft] def symmetrize(fwdCounts: DataFrame): DataFrame = {
    val s = fwdCounts.sparkSession
    import s.implicits._
    val f = fwdCounts.localCheckpoint()
    f.unionAll(f.select($"x".as("c"), $"c".as("x"), $"n"))
      .groupBy($"c", $"x").agg(sum($"n").as("n"))
  }

  /** The shared DuckDB image of skipgramPairs, up to a `pairs(c, x)`
    * CTE. */
  private val skipgramPairsSql =
    """sp AS (SELECT string_split(text, ' ') AS sp FROM documents),
       fw AS (
         SELECT unnest(list_transform(range(1, len(sp)),
                                      i -> {'c': sp[i], 'x': sp[i + 1]})) AS p
         FROM sp
         UNION ALL
         SELECT unnest(list_transform(range(1, len(sp) - 1),
                                      i -> {'c': sp[i], 'x': sp[i + 2]})) AS p
         FROM sp),
       pairs AS (
         SELECT p.c AS c, p.x AS x FROM fw
         UNION ALL
         SELECT p.x AS c, p.c AS x FROM fw)"""

  /** Token co-occurrence counts — word2vec/GloVe's input table over the
    * corpus: every token pairs with its neighbors within ±2 positions
    * (both orientations, the standard symmetric-window convention), and
    * the (center, context, n) multiset is the trainer's sufficient
    * statistic — graph_skipgram's text-side sibling. Top-100 by count
    * is the graded slice; the full table is what a training pipeline
    * materializes.
    *
    * Scale shape identical to llm_ngram_topk: the pair list is IN-ROW
    * (no positional self-join), so the plan is scan → explode → one
    * map-side-combined hash aggregate → TakeOrderedAndProject. At 100 TB
    * the aggregate's output is vocab²-bounded (and Zipf-concentrated),
    * never corpus-sized. */
  val cooccurrence: GraftQuery = GraftQuery(
    "llm_cooccurrence",
    (s, dir) => {
      import s.implicits._
      symmetrize(skipgramPairs(s, dir)
          .groupBy($"c", $"x").agg(count(lit(1)).as("n")))
        .orderBy($"n".desc, $"c", $"x")
        .limit(100)
        .select($"c".as("center"), $"x".as("context"), $"n")
    },
    Some(s"""WITH $skipgramPairsSql
        SELECT c AS center, x AS context, count(*) AS n
        FROM pairs GROUP BY c, x
        ORDER BY n DESC, c, x LIMIT 100""")
  )

  /** Pointwise mutual information over the co-occurrence pairs — the
    * classic association score (PMI ≈ log-odds a pair co-occurs vs
    * independence) that turns raw counts into collocation strength:
    * PPMI-factorized co-occurrence IS a word embedding (Levy &
    * Goldberg), and high-PMI pairs are the multiword expressions a
    * tokenizer or phrase-mining pass should fuse. Graded slice: top-50
    * pairs with support n ≥ 5 (rare-pair PMI is noise by construction).
    *
    * Determinism: marginals and the grand total are exact BIGINTs off
    * the pair aggregate; the independence ratio n·N / (n_c·n_x) is
    * computed as ONE identical double expression in both engines
    * (identical operands, identical order — the ts_ols convention), the
    * ORDER BY sorts on that unrounded ratio (monotone in PMI, so no
    * transcendental in the sort key), and ln() rounds 6dp only at the
    * final projection.
    *
    * Scale shape: pair aggregate (vocab²-bounded) localCheckpointed once
    * and read three ways (pairs, center marginal, 1-row total); the
    * marginal joins are vocab-sized shuffle joins, never a broadcast of
    * an O(vocab) side; top-50 is TakeOrderedAndProject. */
  val pmi: GraftQuery = GraftQuery(
    "llm_pmi",
    (s, dir) => {
      import s.implicits._
      val pc = symmetrize(skipgramPairs(s, dir)
          .groupBy($"c", $"x").agg(count(lit(1)).as("n")))
        .localCheckpoint() // read 3×: pairs, marginal, total
      val marginal = pc.groupBy($"c").agg(sum($"n").as("nc"))
      val total = pc.agg(sum($"n").as("nn"))
      pc.filter($"n" >= 5)
        .join(marginal.hint("shuffle_hash"), "c")
        .join(marginal.select($"c".as("x"), $"nc".as("nx"))
          .hint("shuffle_hash"), "x")
        .crossJoin(broadcast(total))
        .withColumn("ratio",
          $"n".cast("double") * $"nn".cast("double")
            / ($"nc".cast("double") * $"nx".cast("double")))
        .orderBy($"ratio".desc, $"c", $"x")
        .limit(50)
        .select($"c".as("center"), $"x".as("context"), $"n",
          round(log($"ratio"), 6).as("pmi"))
    },
    Some(s"""WITH $skipgramPairsSql,
        pc AS (SELECT c, x, count(*) AS n FROM pairs GROUP BY c, x),
        m AS (SELECT c, sum(n) AS nc FROM pc GROUP BY c),
        t AS (SELECT sum(n) AS nn FROM pc)
        SELECT pc.c AS center, pc.x AS context, pc.n,
               (round(ln(CAST(pc.n AS DOUBLE) * CAST(t.nn AS DOUBLE)
                        / (CAST(mc.nc AS DOUBLE) * CAST(mx.nc AS DOUBLE))), 6) + 0.0)
                 AS pmi
        FROM pc
        JOIN m mc ON pc.c = mc.c
        JOIN m mx ON pc.x = mx.c
        CROSS JOIN t
        WHERE pc.n >= 5
        ORDER BY CAST(pc.n AS DOUBLE) * CAST(t.nn AS DOUBLE)
                 / (CAST(mc.nc AS DOUBLE) * CAST(mx.nc AS DOUBLE)) DESC,
                 pc.c, pc.x
        LIMIT 50""")
  )

  /** Per-source quality pass-rate with a Wilson 95% interval and a
    * significance flag against the corpus-wide rate — the "is src7's
    * quality dip REAL or just a small sample?" readout that decides
    * whether a source gets throttled. A bare rate comparison flags
    * every small source that wobbles; the Wilson bound only fires when
    * the interval clears the global rate (the standard monitoring form
    * — normal-approximation intervals misbehave exactly at the small-n
    * sources this exists to judge).
    *
    * Determinism: n and k are exact BIGINTs per source (pass = the
    * shared 4dp-rounded llm_quality score ≥ 0.5 — a boundary-safe
    * compare of an already-rounded value); the Wilson chain is written
    * as the SAME expression tree over (k/n, n) in both engines with
    * z² = 3.8416 as a shared literal, so every double is an identical
    * IEEE sequence; bounds round 6dp at the final projection (sqrt
    * outputs are irrational, never on a rounding boundary); the flag
    * compares UNROUNDED identical doubles.
    *
    * Scale shape: score is scan-projection arithmetic; one hash
    * aggregate onto the bounded source domain; the global rate is a
    * 1-row broadcast (the PlanAudit-allowlisted pattern). */
  /** The per-doc (source, pass) frame under llm_quality_ci — shared
    * with the streaming twin, whose wave partials are integer (n, k)
    * sums of exactly these rows. */
  private[graft] def qualityPassRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select($"doc_id", $"source")
      .join(scoredDocs(s, dir), "doc_id")
      .select($"doc_id", $"source",
        when($"score" >= 0.5, 1L).otherwise(0L).as("pass"))
  }

  /** The Wilson-interval fold over a (source, n, k) frame plus the
    * 1-row global-rate frame — shared by llm_quality_ci and its
    * streaming twin so the two chains cannot drift. */
  private[graft] def wilsonFold(per: DataFrame, global: DataFrame): DataFrame = {
    val s = per.sparkSession
    import s.implicits._
    val nD = $"n".cast("double"); val p = $"k".cast("double") / nD
    val z2 = lit(3.8416); val z = lit(1.96)
    val denom = lit(1.0) + z2 / nD
    val center = p + z2 / (lit(2.0) * nD)
    val half = z * sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * nD)) / nD)
    per.crossJoin(broadcast(global))
      .select($"source", $"n", $"k",
        round(p, 6).as("rate"),
        round((center - half) / denom, 6).as("wilson_lo"),
        round((center + half) / denom, 6).as("wilson_hi"),
        when((center + half) / denom < $"g", 1L).otherwise(0L)
          .as("sig_below_global"))
      .orderBy($"source")
  }

  val qualityCi: GraftQuery = GraftQuery(
    "llm_quality_ci",
    (s, dir) => {
      import s.implicits._
      val passed = qualityPassRows(s, dir)
      val per = passed.groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"pass").as("k"))
      val global = passed.agg(
        (sum($"pass").cast("double") / count(lit(1)).cast("double")).as("g"))
      wilsonFold(per, global)
    },
    Some(s"""WITH q AS (
              SELECT source, CASE WHEN $scoreSql >= 0.5 THEN 1 ELSE 0 END AS pass
              FROM documents),
            per AS (
              SELECT source, count(*) AS n, CAST(sum(pass) AS BIGINT) AS k
              FROM q GROUP BY 1),
            g AS (
              SELECT CAST(sum(pass) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS g
              FROM q),
            w AS (
              SELECT source, n, k,
                     CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                     1.0 + 3.8416 / CAST(n AS DOUBLE) AS denom,
                     CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                       + 3.8416 / (2.0 * CAST(n AS DOUBLE)) AS center,
                     1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                         * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                         + 3.8416 / (4.0 * CAST(n AS DOUBLE)))
                       / CAST(n AS DOUBLE)) AS half
              FROM per)
            SELECT source, CAST(n AS BIGINT) AS n, k,
                   (round(p, 6) + 0.0) AS rate,
                   (round((center - half) / denom, 6) + 0.0) AS wilson_lo,
                   (round((center + half) / denom, 6) + 0.0) AS wilson_hi,
                   CAST(CASE WHEN (center + half) / denom < (SELECT g FROM g)
                        THEN 1 ELSE 0 END AS BIGINT) AS sig_below_global
            FROM w ORDER BY source""")
  )

  /** Vocabulary coverage by source — the tokenizer-sizing readout next
    * to llm_vocab_topk and llm_tokenizer_fertility: what fraction of each
    * source's token OCCURRENCES the top-50 global vocabulary covers, and
    * how many distinct out-of-vocabulary types remain. Coverage curves
    * like this decide vocab size (and expose sources whose register the
    * vocab underserves — the multilingual-tokenizer failure mode).
    *
    * Deterministic vocab cut: exact counts ordered (count desc, token) —
    * the vocabTopK convention — so the 50-token set is identical in both
    * engines. Scale shape: one token hash aggregate for the vocab (the
    * top-50 is TakeOrderedAndProject — per-partition heaps), the ≤50-row
    * vocab broadcast onto the token stream, one bounded per-source
    * aggregate. The corpus is tokenized once, shuffled never. */
  val vocabCoverage: GraftQuery = GraftQuery(
    "llm_vocab_coverage",
    (s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"source", explode(TF.tokens($"text")).as("token"))
      val vocab = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"token")
        .limit(50)
        .select($"token", lit(1L).as("iv"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce($"iv", lit(0L))).as("n_covered"),
          countDistinct(when($"iv".isNull, $"token")).as("n_oov_types"))
        .select($"source", $"n_tokens", $"n_covered",
          round($"n_covered".cast("double") / $"n_tokens".cast("double"), 6)
            .as("coverage"),
          $"n_oov_types")
        .orderBy($"source")
    },
    Some("""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token
                       FROM documents),
            v AS (SELECT token FROM (
                    SELECT token, count(*) AS cnt FROM t GROUP BY 1
                    ORDER BY cnt DESC, token LIMIT 50)),
            j AS (SELECT source, t.token,
                         CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END AS iv
                  FROM t LEFT JOIN v ON t.token = v.token)
            SELECT source, count(*) AS n_tokens,
                   CAST(sum(iv) AS BIGINT) AS n_covered,
                   (round(CAST(sum(iv) AS DOUBLE) / count(*), 6) + 0.0) AS coverage,
                   count(DISTINCT CASE WHEN iv = 0 THEN token END) AS n_oov_types
            FROM j GROUP BY source ORDER BY source""")
  )

  /** Zipf-law fit per source — the OLS slope of ln(frequency) on
    * ln(rank) over each source's top-100 tokens (natural text sits near
    * −1; templated/spammy text flattens, and a drifting slope after an
    * ingest is a corpus-mix regression): the statistical-structure
    * companion to llm_vocab_coverage.
    *
    * Determinism: ranks come from exact counts ordered (count desc,
    * token) inside a source-partitioned window; ln(rank) and ln(count)
    * are identical doubles of exact ints, and the five OLS sufficient
    * sums fold floor(term·1e10) in BIGINT over the ≤100-row domain
    * (elasticity device; ≤100 rows · ≤7.7e12 per term — no headroom
    * concern, still gated for discipline).
    *
    * Scale shape: one token hash aggregate, one source-partitioned
    * top-100 window, one bounded per-source fold. */
  val zipf: GraftQuery = GraftQuery(
    "llm_zipf",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"source").orderBy($"cnt".desc, $"token")
      val top = Tables.documents(s, dir)
        .select($"source", explode(TF.tokens($"text")).as("token"))
        .groupBy($"source", $"token").agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 100)
        .withColumn("lx", log($"rnk".cast("double")))
        .withColumn("ly", log($"cnt".cast("double")))
      def g(c: Column, tag: String) = GraftQuery.guarded(sum(floor(c * lit(1e10))),
        count(lit(1)).cast("double") * lit(7.7e12) < lit(9e18),
        s"llm_zipf: $tag fold past BIGINT headroom \u2014 lower the 1e10 scale")
      top.groupBy($"source")
        .agg(count(lit(1)).as("n_terms"),
          g($"lx", "Sx").as("sx"), g($"ly", "Sy").as("sy"),
          g($"lx" * $"lx", "Sxx").as("sxx"),
          g($"lx" * $"ly", "Sxy").as("sxy"))
        .select($"source", $"n_terms",
          round(($"n_terms".cast("double") * $"sxy".cast("double") * lit(1e10)
            - $"sx".cast("double") * $"sy".cast("double"))
            / ($"n_terms".cast("double") * $"sxx".cast("double") * lit(1e10)
              - $"sx".cast("double") * $"sx".cast("double")), 4).as("zipf_slope"))
        .orderBy($"source")
    },
    Some("""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token
                       FROM documents),
            c AS (SELECT source, token, count(*) AS cnt FROM t GROUP BY 1, 2),
            r AS (SELECT source, cnt,
                         row_number() OVER (PARTITION BY source
                           ORDER BY cnt DESC, token) AS rnk
                  FROM c QUALIFY rnk <= 100),
            f AS (SELECT source,
                         ln(CAST(rnk AS DOUBLE)) AS lx,
                         ln(CAST(cnt AS DOUBLE)) AS ly
                  FROM r),
            a AS (SELECT source, count(*) AS n_terms,
                         CAST(sum(CAST(floor(lx * 1e10) AS BIGINT)) AS BIGINT) AS sx,
                         CAST(sum(CAST(floor(ly * 1e10) AS BIGINT)) AS BIGINT) AS sy,
                         CAST(sum(CAST(floor(lx * lx * 1e10) AS BIGINT)) AS BIGINT) AS sxx,
                         CAST(sum(CAST(floor(lx * ly * 1e10) AS BIGINT)) AS BIGINT) AS sxy
                  FROM f GROUP BY 1)
            SELECT source, n_terms,
                   (round((CAST(n_terms AS DOUBLE) * sxy * 1e10
                          - CAST(sx AS DOUBLE) * sy)
                         / (CAST(n_terms AS DOUBLE) * sxx * 1e10
                            - CAST(sx AS DOUBLE) * sx), 4) + 0.0) AS zipf_slope
            FROM a ORDER BY source""")
  )

  /** Bigram Shannon entropy per source — text predictability as a
    * corpus-quality signal (repetitive boilerplate collapses bigram
    * entropy long before exact dedup sees a duplicate; llm_perplexity
    * scores docs under a MODEL, this is the model-free distributional
    * entropy of the source itself). Emits H (nats), the vocabulary-
    * normalized H/ln(types), and perplexity exp(H).
    *
    * Determinism — the chisq integerized device over an UNBOUNDED
    * domain: bigram counts are exact BIGINTs, each c·ln c term is the
    * identical double in both engines, and the per-source fold sums
    * floor(term·1e4) in BIGINT (gated off the same aggregate row; the
    * coarse 1e4 scale buys ~9e13 rows of headroom at c·ln c ≤ 1e10 per
    * bigram). H = ln N − S/(N·1e4), a fixed scalar chain.
    *
    * Scale shape: one (source, bigram) hash aggregate off the scan
    * (map-side combined), one bounded per-source fold. */
  val ngramEntropy: GraftQuery = GraftQuery(
    "llm_ngram_entropy",
    (s, dir) => {
      import s.implicits._
      val grams = Tables.documents(s, dir)
        .select($"source", TF.tokens($"text").as("w"))
        // single-token docs: Spark's sequence(1, 0) DESCENDS instead of
        // emitting empty (DuckDB's range(1,1) is empty) — filter first.
        .filter(size($"w") >= 2)
        .select($"source", explode(expr(
          "transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"))
          .as("bg"))
        .groupBy($"source", $"bg").agg(count(lit(1)).as("c"))
      grams.groupBy($"source")
        .agg(count(lit(1)).as("n_types"), sum($"c").as("n"),
          GraftQuery.guarded(
            sum(floor($"c".cast("double") * log($"c".cast("double")) * lit(1e4))),
            count(lit(1)).cast("double")
              * (max($"c").cast("double") * log(max($"c").cast("double"))
                * lit(1e4) + lit(1.0)) < lit(9e18),
            "llm_ngram_entropy: c\u00b7ln c fold past BIGINT headroom "
              + "\u2014 lower the 1e4 scale").as("slnc"))
        .select($"source", $"n_types", $"n",
          round(log($"n".cast("double"))
            - $"slnc".cast("double") / ($"n".cast("double") * lit(1e4)), 6)
            .as("h_nats"),
          round((log($"n".cast("double"))
            - $"slnc".cast("double") / ($"n".cast("double") * lit(1e4)))
            / log($"n_types".cast("double")), 6).as("h_norm"),
          round(exp(log($"n".cast("double"))
            - $"slnc".cast("double") / ($"n".cast("double") * lit(1e4))), 4)
            .as("perplexity"))
        .orderBy($"source")
    },
    Some("""WITH t AS (SELECT source, string_split(text, ' ') AS w
                       FROM documents),
            bg AS (SELECT source, w[i] || ' ' || w[i+1] AS bg
                   FROM t, unnest(range(1, len(w))) u(i)),
            c AS (SELECT source, bg, count(*) AS c FROM bg GROUP BY 1, 2),
            a AS (SELECT source, count(*) AS n_types,
                         CAST(sum(c) AS BIGINT) AS n,
                         CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                           * 1e4) AS BIGINT)) AS BIGINT) AS slnc
                  FROM c GROUP BY 1)
            SELECT source, n_types, n,
                   (round(ln(CAST(n AS DOUBLE))
                         - CAST(slnc AS DOUBLE) / (CAST(n AS DOUBLE) * 1e4), 6) + 0.0)
                     AS h_nats,
                   (round((ln(CAST(n AS DOUBLE))
                          - CAST(slnc AS DOUBLE) / (CAST(n AS DOUBLE) * 1e4))
                         / ln(CAST(n_types AS DOUBLE)), 6) + 0.0) AS h_norm,
                   (round(exp(ln(CAST(n AS DOUBLE))
                         - CAST(slnc AS DOUBLE) / (CAST(n AS DOUBLE) * 1e4)), 4) + 0.0)
                     AS perplexity
            FROM a ORDER BY source""")
  )

  def all: Seq[GraftQuery] =
    Seq(textStats, langId, fingerprint, langProfile, tokenBpe, quality,
        qualityGopher,
        vocabTopK, vocabFuzzy, trainSplit, piiScrub, sampleStratified,
        packChunks, domainMix, shardShuffle, chunkSliding, sampleWeighted,
        sampleReservoir,
        qualityClassifier, winnow, winnowDedup, winnowDedupCapped,
        bpeTrain, bpeApply, ngramTopK, qualityCi, cooccurrence, pmi,
        tokenizerFertility, vocabCoverage, zipf, ngramEntropy)
}
