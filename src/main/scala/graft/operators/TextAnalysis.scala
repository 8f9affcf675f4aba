package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star
  * extensions, BASELINE.json): tokenization, language ID, quality
  * scoring, token counting, fingerprinting. Everything here is pure
  * `org.apache.spark.sql.functions` column algebra — codegen-friendly,
  * no UDFs — so it stays inside WholeStageCodegen and scales linearly
  * with input splits (no shuffle at all for per-document scoring).
  */
object TextAnalysis {

  /** Data-side normalization: lowercase + collapse non-alphanumeric
    * runs to single spaces + trim. (Schema-side variant:
    * [[graft.core.Names.normalizeColumnName]].) */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Whitespace-free word tokens over normalized text. A non-empty
    * normalized string has no leading/trailing/doubled spaces (the
    * normalizer collapses runs and trims), so `split` alone can never
    * produce an empty token — only the empty STRING splits to [""],
    * handled by the length guard. Identical results to the historical
    * `filter(split(...), _ =!= "")` INCLUDING null propagation (a null
    * input falls through the guard to `split(null)` = null, exactly as
    * the filter form returned null — external oracles' `string_split`
    * also nulls through), but with no interpreted ArrayFilter lambda
    * per row (HOFs are CodegenFallback; this is pure codegen'd column
    * algebra on the hottest text path). */
  def tokens(c: Column): Column = {
    val n = normalizeText(c)
    when(length(n) === 0, array().cast("array<string>")).otherwise(split(n, " "))
  }

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword-piece count: the GPT-2 pre-tokenizer regex family
    * (contractions | letter runs | digit runs | punctuation runs),
    * counted with `regexp_count` — a cheap, deterministic proxy for
    * "how many tokens would a BPE tokenizer emit". */
  val bpePattern: String = "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+"
  def bpeTokenCount(c: Column): Column = regexp_count(c, lit(bpePattern))

  /** Tiny per-language stopword lists for the n-gram/stopword language
    * heuristic. Deliberately small + hardcoded: language ID at 100 TB
    * must be a map-only scan, and a 10-word list per language already
    * separates the major languages on real text. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "ich", "mit", "von"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "en", "que", "por", "una"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "des", "dans", "que", "pour"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"))

  /** Stopword hits for one language over a token array. */
  def stopwordHits(toks: Column, lang: String): Column = {
    val set = array(stopwords.toMap.apply(lang).map(lit): _*)
    size(filter(toks, t => array_contains(set, t)))
  }

  /** Language ID: argmax of stopword hits, ties broken by language
    * code ascending; no hits at all -> "und". A greatest-of-structs
    * trick keeps it one expression (no explode, no shuffle). */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** Language ID over a materialized token column — the token array is
    * referenced once per language, so pass a pre-aliased column to
    * avoid re-tokenizing per reference (see [[shinglesFromTokens]]). */
  def langIdFromTokens(toks: Column): Column = {
    // struct(hits, negLangRank) ordered lexicographically: greatest()
    // picks max hits, then the *smallest* lang code (via negated rank).
    val scored = stopwords.zipWithIndex.map { case ((lang, _), i) =>
      struct(
        stopwordHits(toks, lang).as("hits"),
        lit(-i).as("rank"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Heuristic quality score in [0,1] — the standard cheap pretraining
    * filters (length, word shape, punctuation density, stopword
    * density) combined into one deterministic number:
    *   0.25 * clamp(nTokens/100)            (enough content)
    * + 0.25 * clamp((avgTokenLen-2)/6)      (real words, not noise)
    * + 0.25 * (1 - punctRatio)              (not symbol soup)
    * + 0.25 * clamp(stopHits/10)            (natural-language glue)
    */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(text, tokens(text))

  /** Quality score over a materialized token column (the token array
    * is referenced 6×; pre-alias it — see [[langIdFromTokens]]).
    * Contract: `toks` must be [[tokens]] of this same `text` — the
    * average-token-length term is computed from the normalized text,
    * not by folding the array. */
  def qualityScoreFromTokens(text: Column, toks: Column): Column = {
    val nTok = size(toks).cast("double")
    // sum of token lengths == non-space chars of the normalized text:
    // tokens are exactly the space-split pieces of normalizeText, so a
    // codegen'd literal replace + length gives the same long the
    // `aggregate(toks, 0, acc + length)` fold computed — but that HOF
    // is CodegenFallback (one boxed lambda frame per token per row, on
    // the FULL raw corpus in every Curate stage-2 filter); this is
    // pure whole-stage-codegen column algebra, and the normalizeText
    // subtree is shared with the tokenizer by subexpression
    // elimination when both live in one projection.
    val avgLen = when(nTok > 0,
      length(replace(normalizeText(text), lit(" "), lit(""))).cast("double") / nTok)
      .otherwise(lit(0.0))
    val nChars = length(text).cast("double")
    val punct = when(nChars > 0,
      (nChars - regexp_count(text, lit("[a-zA-Z0-9\\s]"))).cast("double") / nChars)
      .otherwise(lit(1.0))
    val stops = stopwords.map { case (l, _) => stopwordHits(toks, l) }
      .reduce(_ + _).cast("double")
    def clamp01(c: Column) = least(greatest(c, lit(0.0)), lit(1.0))
    clamp01(nTok / 100.0) * 0.25 +
      clamp01((avgLen - 2.0) / 6.0) * 0.25 +
      (lit(1.0) - clamp01(punct)) * 0.25 +
      clamp01(stops / 10.0) * 0.25
  }

  // ------------------------------------------- one-pass scoring stats

  /** Every scoring statistic in ONE codegen'd pass over the text —
    * token count, summed token length, per-language stopword hits,
    * (distinct) n-gram counts — as a struct column
    * ([[graft.functions.DocStats]]). Use this + the `FromStats`
    * derivations on any path where the scores feed a FILTER: predicate
    * pushdown inlines score aliases into the predicate, and the
    * HOF-based forms then re-tokenize per reference with interpreted
    * lambdas that codegen CSE cannot dedupe (measured ~26 ms/doc in
    * the curation funnel); the stats struct has no lambdas, so the
    * inlined copies collapse to one primitive-loop evaluation. Values
    * are bit-identical to the column-algebra forms. */
  def docStats(text: Column, gramN: Int = 2): Column =
    graft.functions.DocStats.column(text, stopwords.map(_._2), gramN)

  /** [[langId]] from a [[docStats]] struct — same argmax + tie rule. */
  def langIdFromStats(stats: Column): Column = {
    val scored = stopwords.zipWithIndex.map { case ((lang, _), i) =>
      struct(element_at(stats.getField("hits"), i + 1).as("hits"),
        lit(-i).as("rank"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** [[qualityScore]] from a [[docStats]] struct of the same `text` —
    * identical arithmetic, so identical doubles. */
  def qualityScoreFromStats(text: Column, stats: Column): Column = {
    val nTok = stats.getField("n_tokens").cast("double")
    val avgLen = when(nTok > 0,
      stats.getField("sum_len").cast("double") / nTok).otherwise(lit(0.0))
    val nChars = length(text).cast("double")
    val punct = when(nChars > 0,
      (nChars - regexp_count(text, lit("[a-zA-Z0-9\\s]"))).cast("double") / nChars)
      .otherwise(lit(1.0))
    val stops = stopwords.indices
      .map(i => element_at(stats.getField("hits"), i + 1))
      .reduce(_ + _).cast("double")
    def clamp01(c: Column) = least(greatest(c, lit(0.0)), lit(1.0))
    clamp01(nTok / 100.0) * 0.25 +
      clamp01((avgLen - 2.0) / 6.0) * 0.25 +
      (lit(1.0) - clamp01(punct)) * 0.25 +
      clamp01(stops / 10.0) * 0.25
  }

  /** [[repetitionRatio]] from a [[docStats]] struct (whose `gramN`
    * fixes the n) — same integer counts, same division. */
  def repetitionRatioFromStats(stats: Column): Column =
    when(stats.getField("n_grams") > 0,
      lit(1.0) - stats.getField("n_distinct").cast("double") /
        stats.getField("n_grams").cast("double"))
      .otherwise(lit(0.0))

  /** Within-document repetition ratio: `1 - distinct/total` over token
    * n-grams — the Gopher/C4-style duplicate-n-gram quality filter
    * (high ratio = boilerplate/looped text). Map-only column algebra;
    * documents with fewer than n tokens score 0. Division of two exact
    * small ints is the same IEEE double on every engine — oracle-safe
    * without rounding. */
  def repetitionRatio(toks: Column, n: Int): Column = {
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
    when(size(grams) > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Pretraining text cleanup: strip HTML tags, URLs, and email
    * addresses, then collapse whitespace runs. Pure regexp_replace
    * chain — codegen'd, map-only, the patterns deliberately simple
    * enough to behave identically across regex engines (oracle-
    * portable). */
  def cleanText(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val noUrls = regexp_replace(noTags, "https?://[^\\s]+", " ")
    val noMail = regexp_replace(noUrls, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]+", " ")
    trim(regexp_replace(noMail, "\\s+", " "))
  }

  /** Content-defined document fingerprint: md5 of the normalized text.
    * Identical content with different casing/punctuation/spacing maps
    * to one fingerprint — the key for exact near-canonical dedup. */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** Rolling (polynomial) document hash of normalized text:
    * `h = (h * 31 + codepoint) mod (1e9+7)` via the codegen'd
    * [[graft.functions.PolyHash]] expression — walks the UTF8 bytes in
    * place (the column-algebra fold would materialize a one-char-string
    * array per row and run interpreted). Overflow-free mod-p arithmetic,
    * replayable by external oracles. */
  def rollingHash(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.graft.ColumnBridge.expression(normalizeText(c))))

  // ------------------------------------------------------------- PII

  /** PII regex patterns, written in the dialect-neutral subset shared
    * by Java regex and RE2 (char classes, bounded repeats, `\b`, no
    * lookaround) so a DuckDB/Trino oracle replays them byte-for-byte.
    * Redaction ORDER matters and is fixed by [[redactPii]]: URLs
    * before emails (an address inside a URL path must not survive as
    * a partial match), IPs before phones (both are digit runs a
    * wrong-order pass could half-consume). */
  val urlPattern: String = "https?://[^\\s]+"
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipPattern: String = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phonePattern: String = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** The (pattern, replacement token) chain [[redactPii]] applies, in
    * application order — exposed so callers/oracles can replay it. */
  val piiChain: Seq[(String, String)] = Seq(
    urlPattern -> "<URL>",
    emailPattern -> "<EMAIL>",
    ipPattern -> "<IP>",
    phonePattern -> "<PHONE>")

  /** Scrub PII from free text: URLs, emails, IPv4 addresses and
    * phone-like digit groups each collapse to a typed placeholder
    * token. A pure `regexp_replace` chain — codegen'd, map-only, the
    * 100 TB shape for corpus scrubbing (no shuffle, no UDF; the regex
    * NFA runs inside WholeStageCodegen). */
  def redactPii(c: Column): Column =
    piiChain.foldLeft(c) { case (acc, (pat, tok)) =>
      regexp_replace(acc, pat, tok)
    }

  /** Per-category PII hit counts over the UNREDACTED text (audit
    * columns for the scrub pass — counted independently, so a URL
    * containing an email-shaped path segment counts for both). */
  def piiCounts(c: Column): Seq[(String, Column)] = Seq(
    "n_url" -> regexp_count(c, lit(urlPattern)),
    "n_email" -> regexp_count(c, lit(emailPattern)),
    "n_ip" -> regexp_count(c, lit(ipPattern)),
    "n_phone" -> regexp_count(c, lit(phonePattern)))

  // ----------------------------------------------------------- TF-IDF

  /** Top-k most corpus-distinctive terms per document, scored by
    * tf * (N / df) — TF-IDF with a LINEAR inverse-document-frequency.
    * Deliberately not log-idf: `tf * N` is an exact int64 and the one
    * double division is IEEE-correctly-rounded, so the score (and the
    * ranking it induces) is bit-identical on every engine, while
    * `ln(N/df)` differs in the last ulp between libm implementations
    * and flips near-tie ranks. Per document the two variants rank
    * differently only across terms whose df ratio is inside the
    * log-vs-linear curvature gap — acceptable for a dedup/quality
    * signal, and worth it for a hash-verifiable ranking.
    *
    * Scale shape: one shuffle for the (doc, term) tf aggregate; the
    * term→df table joins back to tf UNHINTED — AQE broadcasts it when
    * its runtime size is under the threshold and falls back to a
    * shuffled hash join when it isn't (a web-scale raw vocabulary —
    * typos, code, numbers — is 10⁸–10⁹ terms; a forced broadcast
    * there is a driver/executor OOM, and both sides are already
    * hash-partitioned on `term` from their aggregates, so the shuffle
    * path reuses the exchange). The corpus doc count joins as a
    * broadcast 1-row cross join (never a driver collect); the final
    * top-k window partitions by doc_id — bounded by a document's
    * distinct terms, never corpus-wide.
    *
    * Output: (doc_id, rank, term, tf, df, score). */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val terms = Rebalance(docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .select(col("doc_id"), explode(tokens(col("__text"))).as("term"))
    // localCheckpoint tf: df, n_docs and the join all derive from it, and
    // Catalyst does not share the three subtrees — unchecked, the plan
    // re-scans and re-tokenizes the corpus THREE times (measured plan:
    // 3× Scan+Generate at r17 baseline; guide §8 "decide with small
    // rows"). The checkpoint stores (doc_id, term, tf) — the small
    // proxy, never the text.
    val tf =
      terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(eager = false)
    // tf already has one row per (doc, term) — df is a plain count
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = tf.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"),
        col("tf"), col("df"), col("score"))
  }

  /** Word n-gram shingles (n consecutive tokens joined by a space) —
    * the unit for MinHash/Jaccard dedup. `toks` should be a
    * materialized column (not the raw tokenizer expression): this
    * expression references it several times, and a pre-aliased column
    * is evaluated once per row while an inlined tokenizer chain would
    * re-run the regex per reference. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(when(size(toks) > 0, array(concat_ws(" ", toks)))
        .otherwise(array().cast("array<string>")))

  /** Shingles straight from text — convenience for small inputs; hot
    * paths materialize tokens first (see [[shinglesFromTokens]]). */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  // ------------------------------------------------- vocabulary / OOV

  /** Corpus vocabulary: the `v` terms with the highest document
    * frequency, ties to the lexicographically smallest term. Plans as
    * tf hash agg → df hash agg → global `orderBy(...).limit(v)`, which
    * Spark executes as TakeOrderedAndProject — each task keeps a
    * v-bounded heap and the driver merges |tasks|·v rows, so the
    * "global sort" never materializes (the same k-bounded principle as
    * TopKPairs, built into the engine for the sort+limit shape).
    * Output: (term, df), vocabulary order NOT materialized (it's a
    * set; consumers broadcast-join on term). */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
      v: Int): DataFrame = {
    val terms = Rebalance(df.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .select(col("doc_id"), explode(tokens(col("__text"))).as("term"))
    terms.distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(v)
  }

  /** Per-document OUT-OF-VOCABULARY rate against a vocabulary frame
    * (one `term` column — e.g. [[vocabulary]]'s output): the fraction
    * of token OCCURRENCES not covered, the standard tokenizer-coverage
    * / domain-shift signal. Shape: explode tokens → broadcast left
    * join against the vocabulary (vocab is v rows — always the
    * broadcast side) → per-doc counts. Documents with zero tokens are
    * ABSENT from the output (they explode to no term rows, hence no
    * group — matching the oracle, whose join-then-group does the
    * same); every emitted group therefore has n_tokens >= 1 and the
    * division is unconditionally defined. Output: (doc_id, n_tokens,
    * n_oov, oov_rate). */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val terms = Rebalance(df.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .select(col("doc_id"), explode(tokens(col("__text"))).as("term"))
    terms
      .join(broadcast(vocab.select(col("term"), lit(1).as("__in"))),
        Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count_if(col("__in").isNull).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** TOP-K COLLOCATIONS by pointwise-mutual-information LIFT — the
    * corpus-association audit behind vocabulary and tokenizer-merge
    * design (which adjacent pairs behave as one unit: "los angeles",
    * "neural networks"). For adjacent-token bigram (x, y):
    *
    *   lift(x,y) = P(x,y) / (P(x)·P(y))
    *             = (c_xy / N2) / ((c_x / N1)·(c_y / N1))
    *
    * (PMI = log lift; the log is monotone, so ranking by lift IS
    * ranking by PMI — and skipping it keeps the score an
    * IEEE-deterministic product of exact integer counts, externally
    * replayable, where a `log` would hash-drift across math
    * libraries). Emitted as `lift_ppm` = floor(1e6·lift); ordering
    * ties break on the pair itself, so top-k is total.
    *
    * `minCount` suppresses the classic PMI pathology (hapax pairs
    * with sky-high lift) and — scale note — bounds the join input to
    * pairs that actually repeat. Shape: bigrams via
    * `arrays_zip(slice, slice)` (pure codegen'd column algebra, no
    * interpreted lambda, map-only fan-out of ≤|doc| rows); two hash
    * aggregates (pair counts, term counts — both map-side combined);
    * the pair tail joins term counts UNHINTED (AQE broadcasts small
    * vocabularies, degrades to a shuffled hash join at web scale);
    * 1-row totals broadcast; top-k plans as TakeOrderedAndProject (a
    * per-task bounded heap — the "global sort" never materializes).
    * Output: (w1, w2, c_xy, c_x, c_y, lift_ppm). */
  def collocations(df: DataFrame, idCol: String, textCol: String,
      k: Int, minCount: Long = 5L): DataFrame = {
    require(k >= 1 && minCount >= 1,
      s"collocations: k and minCount must be >= 1, got k=$k minCount=$minCount")
    val toks = Rebalance(df.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .select(col("doc_id"), tokens(col("__text")).as("__toks"))
    val terms = toks.select(explode(col("__toks")).as("term"))
    val termCounts = terms.groupBy("term").agg(count(lit(1)).as("c"))
    val n1 = terms.select(count(lit(1)).as("n1"))
    val pairs = toks.where(size(col("__toks")) >= 2)
      .select(explode(arrays_zip(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1).as("w1"),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1).as("w2"))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    val pairCounts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val n2 = pairCounts.select(sum(col("c_xy")).as("n2"))
    pairCounts.where(col("c_xy") >= minCount)
      .join(termCounts.select(col("term").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(termCounts.select(col("term").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(n1))
      .crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        floor(lit(1e6) * (col("c_xy").cast("double") * col("n1") * col("n1"))
          / (col("c_x").cast("double") * col("c_y") * col("n2"))).as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** VOCABULARY COVERAGE (the Zipf-curve audit): the top-k terms by
    * occurrence count with each term's cumulative corpus share —
    * "how much of the corpus do the top k words cover", the
    * tokenizer-budget / domain-shift companion to [[vocabulary]]
    * (which ranks by DOC frequency and returns a set, not a curve).
    * A natural-language corpus shows the Zipf elbow (top ~100 terms
    * covering a large fraction); a flat curve flags non-linguistic
    * content (tables, code, noise).
    *
    * Shape: one term fan-out scan → occurrence hash agg (map-side
    * combine) → 1-row total broadcast → top-k as a bounded heap
    * (TakeOrderedAndProject) → rank + running sum windowed over the
    * K-ROW result only (never the vocabulary). Share is floored
    * integer ppm of exact Long counts — externally replayable.
    * Output: (rank, term, c, cum_ppm), rank 1-based, ties broken by
    * term. */
  def vocabularyCoverage(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"vocabularyCoverage: k must be >= 1, got $k")
    val terms = Rebalance(df.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .select(explode(tokens(col("__text"))).as("term"))
    val counts = terms.groupBy("term").agg(count(lit(1)).as("c"))
    val total = terms.select(count(lit(1)).as("__n"))
    val topk = counts.orderBy(col("c").desc, col("term").asc).limit(k)
    val w = Window.orderBy(col("c").desc, col("term").asc)
    topk.crossJoin(broadcast(total))
      .select(row_number().over(w).as("rank"), col("term"), col("c"),
        sum(col("c")).over(w).as("__cum"), col("__n"))
      .select(col("rank"), col("term"), col("c"),
        expr("(__cum * CAST(1000000 AS BIGINT)) DIV __n").as("cum_ppm"))
  }

  // ---------------------------------------------------------- chunking

  /** Split documents into strided token-window CHUNKS — the
    * context-window preparation step of a training pipeline (a doc
    * longer than the model context becomes overlapping windows;
    * `stride < chunkTokens` keeps `chunkTokens - stride` tokens of
    * overlap for continuity). Chunk starts are 0, stride, 2·stride, …
    * while < nTokens, so the FINAL chunk may be shorter; zero-token
    * documents emit nothing. Map-only: tokenize → sequence of starts →
    * posexplode → slice/join — no shuffle, embarrassingly parallel,
    * and the fan-out is |doc| / stride rows per document (bounded by
    * the input token count, never corpus-global).
    *
    * Output: (doc_id, chunk_idx, n_tokens, chunk_text) — chunk_idx is
    * the 0-based window ordinal. */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1,
      s"chunkTokens and stride must be >= 1, got $chunkTokens / $stride")
    Rebalance(df.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .withColumn("__toks", tokens(col("__text")))
      .where(size(col("__toks")) > 0)
      .select(col("doc_id"), col("__toks"),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(stride)))
          .as(Seq("chunk_idx", "__start")))
      .withColumn("__chunk",
        slice(col("__toks"), col("__start") + 1, lit(chunkTokens)))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("__chunk")).as("n_tokens"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }

  // ------------------------------------------------ corpus boilerplate

  /** Per-document BOILERPLATE rate: the fraction of a document's
    * DISTINCT token n-grams whose corpus document frequency is at
    * least `minDf` — the duplicated-n-gram corpus-duplication signal
    * (Gopher / C4 / FineWeb-style quality filtering flags documents
    * dominated by text that repeats across the corpus: headers,
    * footers, templates, licence blocks). Distinct from
    * [[repetitionRatio]] (WITHIN-document repetition) and from
    * [[graft.operators.Dedup.ngramJaccardPairs]] (pairwise dedup):
    * this is a per-document score against corpus-global gram counts,
    * no pairing at all.
    *
    * Shape, and why it holds at 100 TB: grams travel as the native
    * md5-60 [[graft.functions.ShingleHashes]] longs (the per-doc
    * distinct set, so a plain `count(*)` per gram IS document
    * frequency — no count-distinct). Hash fine print (the same
    * contract as the MinHash ops): 60 bits is collision-negligible,
    * not collision-free — birthday pairs arrive at ~n²/2^61, so a
    * corpus with 10^9 distinct grams expects <1 colliding pair
    * (which would merge two grams' document frequencies, slightly
    * INFLATING rates); equality with string-gram counting is exact
    * at test scale and statistical at corpus scale. Two linear scans
    * of the text
    * (one per gram-frame consumer), each map-side codegen'd, and the
    * only shuffles carry 8-byte hashes. The frequent-gram table is
    * df-filtered BEFORE the join back, so the join's build side holds
    * only grams that actually repeat (boilerplate is the tail, not
    * the vocabulary) and AQE broadcasts it when small, degrading to a
    * shuffled hash join — never a driver OOM — when not (the x35
    * lesson: no forced broadcast).
    *
    * Zero-token documents are ABSENT from the output (no grams, no
    * group — the [[oovRate]] convention); short documents (fewer than
    * `n` tokens) contribute their single padded shingle. Output:
    * (doc_id, n_grams, n_frequent, boilerplate_rate), where `n_grams`
    * counts the doc's distinct grams and the rate is their exact
    * small-int division (IEEE-identical on every engine — oracle-safe
    * without rounding, as in [[repetitionRatio]]). */
  /** Per-group CORPUS PROFILE — the audit "report card" a curation or
    * mix run starts from: document count, total token volume, quality
    * quartiles + mean, and the char-length envelope, per `groupCol`
    * (typically `source`). One [[docStats]] scan, one hash aggregate.
    *
    * Determinism fine print (hash-compare-grade output): per-doc
    * quality is floored to 4dp first; the MEAN is then an exact
    * DECIMAL(18,4) sum divided by the row count (double summation
    * would be shuffle-order dependent); quartiles are the exact
    * `percentile` interpolation over the floored values (sorted
    * multiset — order-independent; DuckDB `quantile_cont` computes
    * the same interpolated doubles, the x45 precedent); token totals
    * are integer sums. Rows with NULL text carry null stats — counted
    * in `n_docs`, skipped by every OTHER aggregate including the mean
    * (the DECIMAL sum divides by the count of non-null qualities, not
    * `n_docs` — so the mean and the quartiles describe the same
    * population; a group of only null-text docs reports null), on
    * both engines. */
  def corpusProfile(df: DataFrame, groupCol: String, textCol: String,
      charsCol: String): DataFrame = {
    val q4 = floor(qualityScoreFromStats(col(textCol), col("__stats"))
      * 10000) / 10000
    df.withColumn("__stats", docStats(col(textCol)))
      .withColumn("__q", q4)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("__stats").getField("n_tokens").cast("long")), lit(0L))
          .as("total_tokens"),
        (floor(sum(col("__q").cast("decimal(18,4)")).cast("double")
          / count(col("__q")) * 10000) / 10000).as("avg_quality"),
        (floor(percentile(col("__q"), lit(0.25)) * 10000) / 10000).as("q25_quality"),
        (floor(percentile(col("__q"), lit(0.5)) * 10000) / 10000).as("q50_quality"),
        (floor(percentile(col("__q"), lit(0.75)) * 10000) / 10000).as("q75_quality"),
        min(col(charsCol)).as("min_chars"),
        max(col(charsCol)).as("max_chars"))
  }

  /** Mergeable per-group profile STATE — the incremental counterpart
    * of [[corpusProfile]] for a growing corpus. Each intake batch
    * contributes a model-sized state frame computed in one [[docStats]]
    * scan of the BATCH alone, and states merge associatively
    * ([[mergeProfileStates]]), so the corpus-wide report stays current
    * at O(batch) cost per step instead of an O(corpus) rescan — the
    * audit-side sibling of the growing dedup indexes.
    *
    * The price of mergeability: quartiles are NOT in the state (exact
    * percentiles don't merge); the state carries only exactly-mergeable
    * moments — doc/quality counts, the integer token sum, the DECIMAL
    * quality sum (order-independent, the x49 lesson), and the char
    * envelope. Null-text rows count in `n_docs` only, exactly as in
    * [[corpusProfile]]. Output: (group, n_docs, total_tokens,
    * q_sum DECIMAL(28,4), q_cnt, min_chars, max_chars). */
  def profileState(df: DataFrame, groupCol: String, textCol: String,
      charsCol: String): DataFrame = {
    val q4 = floor(qualityScoreFromStats(col(textCol), col("__stats"))
      * 10000) / 10000
    df.withColumn("__stats", docStats(col(textCol)))
      .withColumn("__q", q4)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("__stats").getField("n_tokens").cast("long")), lit(0L))
          .as("total_tokens"),
        coalesce(sum(col("__q").cast("decimal(18,4)")),
          lit(0).cast("decimal(18,4)")).cast("decimal(28,4)").as("q_sum"),
        count(col("__q")).as("q_cnt"),
        min(col(charsCol)).as("min_chars"),
        max(col(charsCol)).as("max_chars"))
  }

  /** [[profileState]] from ALREADY-SCORED columns — the funnel handoff
    * (the RunMix preScored analogue): a curation step has computed
    * quality and token counts for every accepted row, so the state is
    * one hash aggregate with NO second DocStats scan. Equivalence
    * contract: `qualityCol`/`tokensCol` must be the docStats scoring
    * of the frame's text (true of Curate outputs, whose text column IS
    * the cleaned text the funnel scored) — then the state is
    * bit-identical to [[profileState]] recomputed from the text, and
    * merges freely with states from either constructor. */
  def profileStateFromScored(df: DataFrame, groupCol: String,
      qualityCol: String, tokensCol: String, charsCol: String): DataFrame =
    df.withColumn("__q", floor(col(qualityCol) * 10000) / 10000)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col(tokensCol).cast("long")), lit(0L))
          .as("total_tokens"),
        coalesce(sum(col("__q").cast("decimal(18,4)")),
          lit(0).cast("decimal(18,4)")).cast("decimal(28,4)").as("q_sum"),
        count(col("__q")).as("q_cnt"),
        min(col(charsCol)).as("min_chars"),
        max(col(charsCol)).as("max_chars"))

  /** Associative merge of [[profileState]] frames: union + one hash
    * aggregate over the model-sized states (counts/sums add, the
    * envelope takes min/max). `merge(a, merge(b, c)) == merge(merge(a,
    * b), c) == state(a ∪ b ∪ c)` exactly — the DECIMAL quality sum
    * makes the quality moment order-independent, so a profile grown
    * batch-by-batch is bit-identical to one built in one shot. */
  def mergeProfileStates(groupCol: String, states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "mergeProfileStates: no states")
    states.reduce(_.unionByName(_))
      .groupBy(col(groupCol))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("total_tokens")).as("total_tokens"),
        sum(col("q_sum")).cast("decimal(28,4)").as("q_sum"),
        sum(col("q_cnt")).as("q_cnt"),
        min(col("min_chars")).as("min_chars"),
        max(col("max_chars")).as("max_chars"))
  }

  /** The report derivable exactly from a [[profileState]]: the x49
    * columns minus the (unmergeable) quartiles, with `avg_quality`
    * computed by the same floored-4dp DECIMAL-sum-over-non-null-count
    * rule as [[corpusProfile]] (a group of only null-text docs reports
    * null). */
  def profileFromState(state: DataFrame, groupCol: String): DataFrame =
    state.select(col(groupCol), col("n_docs"), col("total_tokens"),
      (floor(col("q_sum").cast("double") / col("q_cnt") * 10000) / 10000)
        .as("avg_quality"),
      col("min_chars"), col("max_chars"))

  /** Mergeable per-group quality HISTOGRAM state — closes the gap
    * [[profileState]] documents ("exact percentiles don't merge"):
    * the 4dp-floored quality maps to a fixed bin
    * `min(floor(q * bins), bins - 1)` over [0,1] (q = 1.0 folds into
    * the top bin), and the integer bin counts merge by addition, so a
    * histogram grown batch-by-batch is bit-identical to a one-shot
    * build and quantile estimates with bounded error are derivable
    * from the merged state at any moment ([[histQuantiles]]).
    *
    * Layout: one row per (group, bin) with a long count — the
    * union+sum merge shape of [[mergeHistStates]]; empty bins are
    * absent. Null-text rows carry no bin (the same non-null
    * population as [[corpusProfile]]'s quartiles). `bins` must be a
    * power of two ≤ 4096 so every bin edge `bin / bins` is an exact
    * dyadic double — engine-portable without rounding. One
    * [[docStats]] scan of the batch, one hash aggregate; the state is
    * model-sized (≤ groups × bins rows). */
  def profileHistState(df: DataFrame, groupCol: String, textCol: String,
      bins: Int = 64): DataFrame = {
    require(bins >= 2 && bins <= 4096 && (bins & (bins - 1)) == 0,
      s"profileHistState: bins must be a power of two in [2, 4096], got $bins")
    val q4 = floor(qualityScoreFromStats(col(textCol), col("__stats"))
      * 10000) / 10000
    df.withColumn("__stats", docStats(col(textCol)))
      .withColumn("__q", q4)
      .where(col("__q").isNotNull)
      .withColumn("bin", least(floor(col("__q") * bins), lit(bins - 1L)).cast("long"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** [[profileHistState]] from an ALREADY-SCORED quality column — the
    * funnel handoff (the [[profileStateFromScored]] analogue): one
    * hash aggregate, no second DocStats scan. Equivalence contract:
    * `qualityCol` must be the docStats scoring of the frame's text —
    * then the state is bit-identical to [[profileHistState]] recomputed
    * from the text (the 4dp floor is applied HERE, so a raw score and
    * its floored form bin identically) and merges freely with states
    * from either constructor. */
  def profileHistStateFromScored(df: DataFrame, groupCol: String,
      qualityCol: String, bins: Int = 64): DataFrame = {
    require(bins >= 2 && bins <= 4096 && (bins & (bins - 1)) == 0,
      s"profileHistStateFromScored: bins must be a power of two in [2, 4096], got $bins")
    df.withColumn("__q", floor(col(qualityCol) * 10000) / 10000)
      .where(col("__q").isNotNull)
      .withColumn("bin", least(floor(col("__q") * bins), lit(bins - 1L)).cast("long"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Associative merge of [[profileHistState]] frames (same `bins`):
    * union + one hash aggregate summing bin counts. Like
    * [[mergeProfileStates]], `merge(a, merge(b, c)) == merge(merge(a,
    * b), c) == state(a ∪ b ∪ c)` exactly — the counts are integers. */
  def mergeHistStates(groupCol: String, states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "mergeHistStates: no states")
    states.reduce(_.unionByName(_))
      .groupBy(col(groupCol), col("bin"))
      .agg(sum(col("n")).as("n"))
  }

  /** Quantile ESTIMATES from a [[profileHistState]]: for each `p` the
    * lower edge of the first bin whose cumulative count reaches the
    * nearest-rank position `ceil(p * n)`. Guarantee (a theorem, spec-
    * pinned): the exact nearest-rank order statistic v of the binned
    * values satisfies `q_est <= v < q_est + 1/bins` — the estimate is
    * never more than one bin wide of exact, at O(batch) maintenance
    * cost instead of the O(corpus) re-sort exact quartiles need.
    *
    * Determinism fine print: `p` must be an exact binary fraction
    * (0.25 / 0.5 / 0.75 are) so `p * n` and its ceiling are exact on
    * every engine; bin edges are exact dyadic doubles (the power-of-
    * two `bins` contract). The cumulative window runs over the MODEL-
    * SIZED state (≤ groups × bins rows), never the corpus — this is a
    * report over an artifact, not a data-scale window. Output: one
    * row per (group, p): (group, p, q_est). */
  def histQuantiles(state: DataFrame, groupCol: String, bins: Int,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "histQuantiles: no quantile positions")
    val spark = state.sparkSession
    import spark.implicits._
    val cum = state
      .withColumn("__cum", sum(col("n"))
        .over(Window.partitionBy(groupCol).orderBy("bin")))
      .withColumn("__total", sum(col("n"))
        .over(Window.partitionBy(groupCol)))
    cum.join(ps.toDF("p"), col("__cum") >= ceil(col("p") * col("__total")))
      .groupBy(col(groupCol), col("p"))
      .agg(min(col("bin")).as("__qbin"))
      .withColumn("q_est", col("__qbin").cast("double") / bins)
      .drop("__qbin")
  }

  /** Per-group DISTRIBUTION DRIFT between two [[profileHistState]]
    * snapshots (same `bins`): total-variation distance
    * `TV = 0.5 * Σ_bin |n_a/total_a − n_b/total_b|` on the quality
    * histograms, plus both doc counts — the monitoring signal that a
    * source's incoming quality distribution has shifted since the
    * last snapshot (a mean alone can't see a variance or bimodality
    * change). TV ∈ [0,1]; a group present on only one side reports
    * TV = 1 (complete drift) by the same algebra (the missing side
    * contributes probability 0 to every bin). Work is ONE full-outer
    * join of two model-sized states plus a window over the joined
    * rows (per-group totals — `sum` over an all-null side is NULL,
    * which is exactly the group-absent signal): each input is read
    * once, no corpus access, no second totals pass.
    *
    * Determinism: a double Σ|n_a/t_a − n_b/t_b| would be shuffle-order
    * dependent (the x49 lesson), so the L1 numerator is summed EXACTLY
    * over the common denominator — Σ|n_a·t_b − n_b·t_a| as
    * DECIMAL(38,0) integers — and divided by 2·t_a·t_b once at the
    * end (one fixed double-op sequence, engine-replayable). Output:
    * (group, n_a, n_b, tv) with tv floored to 6dp. */
  def profileHistDrift(histA: DataFrame, histB: DataFrame,
      groupCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol)
    histA.select(col(groupCol), col("bin"), col("n").as("__na"))
      .join(histB.select(col(groupCol), col("bin"), col("n").as("__nb")),
        Seq(groupCol, "bin"), "full_outer")
      .withColumn("__ta", sum(col("__na")).over(w))
      .withColumn("__tb", sum(col("__nb")).over(w))
      .groupBy(col(groupCol))
      .agg(
        max(col("__ta")).as("__ta"), max(col("__tb")).as("__tb"),
        sum(coalesce(col("__na"), lit(0L))).as("n_a"),
        sum(coalesce(col("__nb"), lit(0L))).as("n_b"),
        sum(abs(
          coalesce(col("__na"), lit(0L)).cast("decimal(19,0)")
            * coalesce(col("__tb"), lit(0L)).cast("decimal(19,0)") -
          coalesce(col("__nb"), lit(0L)).cast("decimal(19,0)")
            * coalesce(col("__ta"), lit(0L)).cast("decimal(19,0)"))
          .cast("decimal(38,0)")).as("__l1"))
      .select(col(groupCol), col("n_a"), col("n_b"),
        when(col("__ta").isNull || col("__tb").isNull, lit(1.0))
          .otherwise(floor(col("__l1").cast("double")
            / (col("__ta").cast("double") * col("__tb").cast("double") * 2.0)
            * 1e6) / 1e6)
          .as("tv"))
  }

  def boilerplateRate(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int): DataFrame = {
    require(minDf >= 2, s"boilerplateRate: minDf must be >= 2, got $minDf")
    // NOTE (r17 ABBA A/B): localCheckpointing this gram fan-out to
    // share it between the df count and the join back measured
    // flat-to-worse at sf0.1 (raw 1.0–1.1×) — both consumers exchange
    // on `gram`, so AQE's shuffle-stage reuse already dedupes the
    // second pass at runtime and the checkpoint only adds its stage
    // barrier (the x03 persisted-base lesson; contrast x35/x82, whose
    // branches exchange on DIFFERENT keys and did win). Recomputed.
    val grams = Rebalance(df.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .select(col("doc_id"),
        explode(graft.functions.ShingleHashes.column(col("__text"), n)).as("gram"))
    val frequent = grams
      .groupBy("gram").agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDf)
      .select(col("gram"), lit(1).as("__hit"))
    grams.join(frequent, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count_if(col("__hit").isNotNull).as("n_frequent"))
      .withColumn("boilerplate_rate",
        col("n_frequent").cast("double") / col("n_grams").cast("double"))
  }

  // --------------------------------------------- repeated-line strip

  /** WITHIN-document repeated-line removal: keep the FIRST occurrence
    * of every non-blank line, drop later repeats, preserve order —
    * the intra-doc half of boilerplate cleanup (nav menus, cookie
    * banners, chorus lines repeated inside one capture; the CROSS-doc
    * half is the x66 frequent-chunk strip). Blank/whitespace-only
    * lines always survive: they are structure, not content, and
    * collapsing them would silently reflow paragraphs.
    *
    * Pure per-row column algebra (map-only, no shuffle, no state):
    * an indexed `filter` keeps line i iff it is blank or absent from
    * lines 0..i−1. Per-row cost is O(lines²) string compares — lines
    * per document is bounded in practice (and the quadratic is per
    * ROW, so it distributes; a pathological single-doc line count is
    * a data bug the x79 bullet gate already flags). Output: input
    * columns with `textCol` replaced by the cleaned text, plus
    * `n_lines` (original) and `n_kept`. Null text passes through
    * null (nothing to strip, the null-propagation contract of the
    * cleaners). */
  def stripRepeatedLines(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, (x, i) =>
      length(trim(x)) === 0 ||
        array_position(slice(lines, lit(1), i), x) === 0L)
    df.withColumn("n_lines",
        coalesce(size(lines).cast("long"), lit(0L) - 1L))
      .withColumn("__kept", kept)
      .withColumn("n_kept",
        coalesce(size(col("__kept")).cast("long"), lit(0L) - 1L))
      .withColumn(textCol, concat_ws("\n", col("__kept")))
      .withColumn(textCol,
        when(col("n_lines") < 0L, lit(null).cast("string"))
          .otherwise(col(textCol)))
      .withColumn("n_lines", greatest(col("n_lines"), lit(0L)))
      .withColumn("n_kept", greatest(col("n_kept"), lit(0L)))
      .drop("__kept")
  }

  // ------------------------------------------------- Gopher rule bundle

  /** Gopher-style quality RULE BUNDLE (Rae et al. 2021, public): the
    * per-rule boolean flags real curation pipelines gate on, where
    * [[qualityScore]] is the composite. Exposing each rule separately
    * is what makes drops ATTRIBUTABLE (the x58 per-reason audit needs
    * a reason, not a score).
    *
    * Every threshold is evaluated in CROSS-MULTIPLIED integer form
    * (`10·symbols ≤ words`, never `symbols/words ≤ 0.1`): no double
    * ratio ever exists, so the flags replay bit-for-bit on any engine
    * and no ulp sits on a gate boundary. Null text counts as empty
    * (all word-dependent rules fail; a null doc never passes). Rules:
    *  - `word_count_ok`   50 ≤ words ≤ 100,000
    *  - `mean_word_ok`    mean word length in [3, 10] chars
    *  - `symbol_ok`       (# + ellipsis) to word ratio ≤ 0.1
    *  - `bullet_ok`       ≤ 90% of lines start with a bullet
    *  - `ellipsis_ok`     ≤ 30% of lines end with an ellipsis
    *  - `alpha_ok`        ≥ 80% of words contain a letter
    *  - `stopword_ok`     ≥ 2 hits from the English stopword list
    *  - `pass`            every rule above
    * Map-only (one projection, no shuffle — the x10 scale shape);
    * counts come from `regexp_count`/token algebra over one
    * normalization pass. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val norm = normalizeText(t)
    val toks = tokens(t)
    val nWords = size(toks).cast("long")
    // characters inside words = normalized length minus separators
    val wordChars = (length(norm) - (nWords - 1)).cast("long")
    val digitWords = regexp_count(norm, lit("\\b[0-9]+\\b")).cast("long")
    val alphaWords = nWords - digitWords
    val symbols = (regexp_count(t, lit("#")) +
      regexp_count(t, lit("\\.\\.\\.")) + regexp_count(t, lit("…")))
      .cast("long")
    val nLines = (regexp_count(t, lit("\n")) + 1).cast("long")
    val bulletLines = regexp_count(t, lit("(?m)^\\s*[-*•]")).cast("long")
    val ellipsisLines = regexp_count(t, lit("(?m)(\\.\\.\\.|…)$"))
      .cast("long")
    val stopHits = stopwordHits(toks, "en").cast("long")
    val wordCountOk = nWords >= 50L && nWords <= 100000L
    val meanWordOk = nWords > 0L &&
      wordChars >= nWords * 3L && wordChars <= nWords * 10L
    val symbolOk = symbols * 10L <= nWords
    val bulletOk = bulletLines * 10L <= nLines * 9L
    val ellipsisOk = ellipsisLines * 10L <= nLines * 3L
    val alphaOk = nWords > 0L && alphaWords * 5L >= nWords * 4L
    val stopwordOk = stopHits >= 2L
    df.select(col(idCol),
      nWords.as("n_words"),
      wordCountOk.as("word_count_ok"),
      meanWordOk.as("mean_word_ok"),
      symbolOk.as("symbol_ok"),
      bulletOk.as("bullet_ok"),
      ellipsisOk.as("ellipsis_ok"),
      alphaOk.as("alpha_ok"),
      stopwordOk.as("stopword_ok"),
      (wordCountOk && meanWordOk && symbolOk && bulletOk &&
        ellipsisOk && alphaOk && stopwordOk).as("pass"))
  }

  // ----------------------------------------------- compressibility signal

  /** zlib COMPRESSION RATIO per document, floored ppm — the
    * quality signal the published pipelines read from a general
    * compressor (Gopher's repetition family / CCNet-era filtering):
    * TOO COMPRESSIBLE (low ratio_ppm) means templated/repetitive
    * content (boilerplate, keyword stuffing, log spam); ratio near or
    * above 10⁶ means already-compressed or binary noise. Output:
    * (id, n_bytes, n_compressed, ratio_ppm) with ratio_ppm =
    * n_compressed·10⁶ div n_bytes; null/empty text reads null ratio.
    *
    * Plan shape: mapPartitions, one `java.util.zip.Deflater` REUSED
    * per partition (reset between docs — allocation per row would
    * dominate); map-only, no shuffle, embarrassingly parallel. The
    * output is deterministic for a fixed JDK zlib (spec-pinned), but
    * no external SQL engine carries zlib — so this operator is
    * SPEC-verified rather than oracle-replayed, the Lease/Compaction
    * class of surface, and the level is pinned (6) so corpus numbers
    * are comparable across runs and hosts. */
  def compressionRatio(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("__id"),
        col(textCol).cast("string").as("__t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](8192)
        it.map { case (id, text) =>
          if (text == null || text.isEmpty) (id, 0L, 0L, None: Option[Long])
          else {
            val bytes = text.getBytes("UTF-8")
            deflater.reset()
            deflater.setInput(bytes); deflater.finish()
            var n = 0L
            while (!deflater.finished()) n += deflater.deflate(buf)
            (id, bytes.length.toLong, n,
              Some(n * 1000000L / bytes.length))
          }
        }
      }
      .toDF("id", "n_bytes", "n_compressed", "ratio_ppm")
  }
}
