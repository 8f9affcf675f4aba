package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic fixed-size sampling for training-data pipelines.
  *
  * `stat.sampleBy` (Bernoulli) gives an EXPECTED fraction — fine for
  * rates, useless when the contract is "exactly k documents per
  * source". The classic answer is reservoir sampling, but a
  * distributed reservoir needs stateful merge and is order-dependent.
  * Consistent top-k-by-hash does the same job relationally: order each
  * group by a hash of the row id and keep the first k. Properties that
  * matter at 100 TB:
  *  - one window (or min-of-struct agg) per group — a single shuffle;
  *  - deterministic and REPEATABLE: the same ids survive across reruns
  *    and across engines (the sort key is a plain hash expression);
  *  - consistent under growth: adding new rows only displaces
  *    survivors with larger hashes (the sample drifts minimally).
  */
object Sampling {

  /** Keep exactly `min(k, |group|)` rows per group, chosen by md5 of
    * the id column (md5, not xxhash64, so external oracles can
    * reproduce the selection). */
  def consistentSamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(groupCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .drop("__rk")
  }

  /** Per-group QUOTA cap (the C4/RefinedWeb-style per-domain limit):
    * keep at most `k` rows per group, selected deterministically, as a
    * K-BOUNDED AGGREGATE — not the [[consistentSamplePerGroup]]
    * window. The window form shuffles and sorts every row of every
    * group; this folds candidates into k-slot [[graft.functions
    * .TopKPairs]] buffers map-side, so the shuffle carries at most k
    * ids per (group, task) and over-quota rows die where they were
    * scanned — on a 100 TB corpus where one domain holds 10⁹ documents
    * and the cap is 10⁴, that is the difference between shuffling the
    * domain and shuffling the cap.
    *
    * Selection rule: `byHash = true` (default) keeps the k smallest
    * md5-draws — a deterministic uniform sample of the group
    * (engine-replayable; the draw is the FIRST 13 hex chars of
    * md5(id) = 52 bits, chosen because 52-bit integers are EXACTLY
    * representable in the aggregate's double score — a longer prefix
    * would round and could flip orderings an external oracle computes
    * exactly). `byHash = false` keeps the k smallest ids (stable
    * "first N per key"). Ties break by id ascending; ids must be
    * integral and unique. Returns the surviving rows of `df`. */
  def quotaCapPerGroup(df: DataFrame, groupCol: String, idCol: String,
      k: Int, byHash: Boolean = true): DataFrame = {
    // the id round-trips through TopKPairs' long slot and back; a
    // non-integral id would silently become null (TopKPairs skips
    // null ids → rows silently dropped), so enforce the contract here
    val idType = df.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"quotaCapPerGroup: idCol '$idCol' must be an integral type " +
        s"(byte/short/int/long), got ${idType.catalogString}")
    val score =
      if (byHash)
        -conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
          .cast("double")
      else lit(0.0) // constant score -> TopKPairs falls to id ascending
    val keep = df
      .groupBy(col(groupCol))
      .agg(graft.functions.TopKPairs.column(
        score, col(idCol).cast("long"), k).as("__top"))
      .select(explode(col("__top")).as("__s"))
      .select(col("__s.id").cast(df.schema(idCol).dataType).as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Per-group TOKEN-BUDGET cap (the "take N tokens per source" mix
    * op — [[quotaCapPerGroup]] counts DOCUMENTS, this counts a COST
    * column): keep each group's documents in salted-md5-draw order
    * until the running cost total would exceed `budget` — the greedy
    * deterministic prefix, the semantics a token-budgeted training
    * mix actually wants (a doc is in or out independent of layout,
    * rerun, or engine).
    *
    * The naive form is one window over each GROUP (sort a billion-doc
    * source to cut it at 10⁹ tokens). This runs CHUNKED instead, the
    * [[packSequences]] prefix-sum shape: the 52-bit draw space is
    * split into 2^12 ordered buckets, per-(group, bucket) cost sums
    * roll up in one hash agg (a group × nonempty-buckets artifact,
    * thousands of rows), an exclusive prefix over THAT tiny frame
    * places every bucket before/at/after the budget line, and only
    * the ONE boundary bucket per group pays a row-level sort — every
    * earlier bucket passes through map-only, every later one drops
    * map-only. Identical output to the naive window by construction
    * (the oracle replays the naive form).
    *
    * Rows whose cost is NULL are treated as cost 0 (they never
    * consume budget, so they survive whenever their draw position
    * does). Ties in the draw break by id; ids must be unique. */
  def tokenBudgetPerGroup(df: DataFrame, groupCol: String, idCol: String,
      costCol: String, budget: Long, salt: String = ""): DataFrame = {
    require(budget >= 0, s"tokenBudgetPerGroup: budget must be >= 0, got $budget")
    val draw = conv(substring(
        md5(concat_ws(":", col(idCol).cast("string"), lit(salt))), 1, 13),
      16, 10).cast("long")
    // 2^52 draw space over 2^12 buckets = 2^40 per bucket
    val rows = df
      .withColumn("__draw", draw)
      .withColumn("__b", expr("__draw DIV CAST(1099511627776 AS BIGINT)"))
      .withColumn("__cost", coalesce(col(costCol).cast("long"), lit(0L)))
    val perBucket = rows.groupBy(col(groupCol), col("__b"))
      .agg(sum("__cost").as("__bs"))
    val wCum = Window.partitionBy(groupCol).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val placed = perBucket.withColumn("__before",
      coalesce(sum("__bs").over(wCum), lit(0L)))
    val joined = rows.join(placed, Seq(groupCol, "__b"))
    val allIn = joined.where(col("__before") + col("__bs") <= budget)
    val wRun = Window.partitionBy(col(groupCol), col("__b"))
      .orderBy(col("__draw"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val boundaryKept = joined
      .where(col("__before") <= budget &&
        col("__before") + col("__bs") > budget)
      .withColumn("__run", sum("__cost").over(wRun))
      .where(col("__before") + col("__run") <= budget)
      .drop("__run")
    allIn.unionByName(boundaryKept)
      .drop("__draw", "__b", "__cost", "__bs", "__before")
  }

  /** Deterministic per-stratum Bernoulli sampling (the training-mix
    * rebalance op): a row survives iff its md5-derived uniform draw
    * `u(id, stratum) in [0, 1e6)` falls under `rate * 1e6`. Unlike
    * `stat.sampleBy`, the survivor set is a pure function of the data —
    * repeatable across reruns, engines, and cluster layouts (no seed
    * per-partition state), which is what makes sampled training mixes
    * auditable. Map-only: no shuffle, no RNG state. */
  def deterministicSampleBy(df: DataFrame, stratumCol: String, idCol: String,
      rates: Map[String, Double]): DataFrame = {
    val draw = conv(substring(
        md5(concat_ws(":", col(idCol).cast("string"), col(stratumCol))), 1, 15),
      16, 10).cast("long") % 1000000L
    val thresholds = rates.map { case (k, v) => (k, (v * 1000000L).toLong) }
    val thr = coalesce(
      element_at(typedLit(thresholds), col(stratumCol)), lit(0L))
    df.where(draw < thr)
  }

  /** Deterministic per-ROW-rate Bernoulli sampling: like
    * [[deterministicSampleBy]] but the survival probability is a
    * COLUMN — the quality- / length-weighted downsample of a curation
    * pipeline (keep high-score documents with probability ~1, tail
    * documents proportionally less), where a per-stratum constant
    * can't express the policy. A row survives iff its salted md5 draw
    * `u(salt, id) in [0, 1e6)` falls under `floor(clamp01(rate) *
    * 1e6)`; the rate is clamped to [0, 1] (a null rate falls through
    * the null-SKIPPING `greatest`/`least` pair to threshold 0 — the
    * row is dropped by arithmetic, not by null propagation), and the
    * threshold floors — never rounds — so an external oracle's
    * integer arithmetic replays it exactly.
    *
    * `salt` decorrelates survivor sets: two samples with different
    * salts draw independently, while the SAME salt makes survivor
    * sets NESTED across rates (rate 0.3 survivors ⊂ rate 0.7
    * survivors) — useful for growing a subsample without resampling.
    * Map-only: no shuffle, no RNG state, a pure function of the data. */
  def deterministicSampleByRate(df: DataFrame, idCol: String, rate: Column,
      salt: String = "rate"): DataFrame = {
    val draw = conv(substring(
        md5(concat_ws(":", lit(salt), col(idCol).cast("string"))), 1, 15),
      16, 10).cast("long") % 1000000L
    val thr = floor(least(greatest(rate, lit(0.0)), lit(1.0)) * 1000000L)
      .cast("long")
    df.where(draw < thr)
  }

  /** [[deterministicSampleByRate]] with the threshold given DIRECTLY
    * as integer ppm — for callers whose rate is already an exact ppm
    * artifact ([[ratesFromState]]): `ppm/1e6` through a double and
    * back can land one ulp under the integer and floor to ppm−1,
    * silently shifting the survivor set by one draw value. Null ppm
    * samples at 0 (no threshold, nothing survives). Same draw, same
    * salt semantics — a ppm caller and a double caller with the same
    * salt see the same draws. */
  def deterministicSampleByRatePpm(df: DataFrame, idCol: String,
      ratePpm: Column, salt: String = "rate"): DataFrame = {
    val draw = conv(substring(
        md5(concat_ws(":", lit(salt), col(idCol).cast("string"))), 1, 15),
      16, 10).cast("long") % 1000000L
    df.where(draw <
      least(greatest(coalesce(ratePpm.cast("long"), lit(0L)), lit(0L)),
        lit(1000000L)))
  }

  /** Per-group sampling RATES from a measured [[graft.operators
    * .TextAnalysis.profileState]] against a TARGET token distribution
    * — "mix what you have toward what you want": the hand-tuned
    * weights a [[weightedMixture]] caller guesses become an artifact
    * computed from the corpus's own measured state (the DoReMi-shaped
    * workflow, with the mixture fixed by spec rather than learned).
    *
    * For each group: the target asks for `budgetTokens · target_ppm /
    * 1e6` tokens; sampling uniformly at `rate` keeps `rate ·
    * total_tokens` in expectation, so `rate_ppm = min(1e6,
    * floor(budgetTokens · target_ppm / total_tokens))` (the two 1e6
    * factors cancel — ONE exact integer division, DECIMAL(38,0)
    * intermediates so a 100 T-token budget cannot overflow). A group
    * with no target, a zero target, or zero measured tokens rates 0; a
    * target the corpus cannot fill clips at 1e6 (take everything —
    * the shortfall is visible as rate_ppm == 1e6).
    *
    * Work is a map over the MODEL-SIZED state (targets ride as a map
    * literal — no join, no corpus access); apply the result with
    * [[sampleToTokenTarget]] or join + [[deterministicSampleByRatePpm]].
    * Output: (group, total_tokens, rate_ppm). */
  def ratesFromState(state: DataFrame, groupCol: String,
      targetsPpm: Map[String, Long], budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0,
      s"ratesFromState: budgetTokens must be >= 0, got $budgetTokens")
    require(targetsPpm.values.forall(t => t >= 0 && t <= 1000000L),
      "ratesFromState: every target must be in [0, 1000000] ppm")
    require(targetsPpm.values.sum <= 1000000L,
      s"ratesFromState: targets sum to ${targetsPpm.values.sum} ppm > 1e6")
    val t = coalesce(
      element_at(typedLit(targetsPpm), col(groupCol)), lit(0L))
    state.select(col(groupCol), col("total_tokens"),
      when(col("total_tokens") <= 0L || t === 0L, lit(0L))
        // clip while still DECIMAL: a huge budget·target quotient must
        // saturate at 1e6, not overflow the long cast
        .otherwise(least(lit(1000000L).cast("decimal(38,0)"),
          floor(lit(budgetTokens).cast("decimal(38,0)") * t
            / col("total_tokens").cast("decimal(38,0)")))
          .cast("long"))
        .as("rate_ppm"))
  }

  /** The composed op: score the corpus's own state, derive rates, and
    * sample — one DocStats scan for the state (skip it by passing a
    * persisted `state`), one broadcast-sized rates join, one map-only
    * ppm draw. Groups without a target drop entirely (their rate is
    * 0 — the target IS the mix). Returns surviving rows plus their
    * `rate_ppm`. */
  def sampleToTokenTarget(df: DataFrame, groupCol: String, idCol: String,
      textCol: String, targetsPpm: Map[String, Long], budgetTokens: Long,
      salt: String = "mix", state: Option[DataFrame] = None): DataFrame = {
    // minimal (group, total_tokens) state — the same token algebra as
    // profileState, so a persisted x69 state drops in unchanged
    val st = state.getOrElse(
      df.withColumn("__stats",
          graft.operators.TextAnalysis.docStats(col(textCol)))
        .groupBy(col(groupCol))
        .agg(coalesce(
          sum(col("__stats").getField("n_tokens").cast("long")), lit(0L))
          .as("total_tokens")))
    val rates = ratesFromState(st, groupCol, targetsPpm, budgetTokens)
      .select(col(groupCol), col("rate_ppm"))
    deterministicSampleByRatePpm(
      df.join(broadcast(rates), Seq(groupCol)), idCol, col("rate_ppm"), salt)
  }

  /** Default accuracy for the sketch path of [[quantileThresholds]]:
    * `approx_percentile`'s KLL/GK-style bound guarantees each returned
    * threshold's RANK error is at most `n / accuracy` rows — at 10000,
    * a quantile can be off by 0.01% of the corpus in rank terms (for a
    * quartile banding that moves at most 1 in 10^4 rows to the
    * adjacent band, far below any band-rate policy's sensitivity) —
    * while each aggregation PARTIAL holds O(accuracy · log n) entries,
    * a few hundred KB per task at corpus scale. Raise it when bands
    * are razor-thin (e.g. separating the top 0.01%: the cut point must
    * resolve finer than the band itself — use >= 10/band-width) and
    * the per-partial memory is affordable; callers needing bit-exact
    * replay across runs should persist the thresholds once and re-band
    * via [[bucketByThresholds]] (the RunMix artifact contract) rather
    * than chase sketch determinism. */
  val SketchAccuracy = 10000

  /** Quantile-threshold frame for [[quantileBuckets]]: ONE row holding
    * the `buckets - 1` interior quantiles of `valueCol`. `exact =
    * false` (the 100 TB path) uses `approx_percentile` at
    * [[SketchAccuracy]] — a bounded-memory mergeable sketch (rank
    * error and memory trade documented there); `exact = true` uses
    * `percentile`, whose aggregation buffer holds every value (fine at
    * test scale, where it is also externally replayable — DuckDB
    * `quantile_cont` computes the same interpolated doubles). */
  def quantileThresholds(df: DataFrame, valueCol: String, buckets: Int,
      exact: Boolean): DataFrame = {
    require(buckets >= 2, s"quantileBuckets: need >= 2 buckets, got $buckets")
    val ps = lit((1 until buckets).map(_.toDouble / buckets).toArray)
    val agg = if (exact) percentile(col(valueCol), ps)
      else approx_percentile(col(valueCol), ps, lit(SketchAccuracy))
    df.agg(agg.cast("array<double>").as("__t"))
  }

  /** Band assignment against EXPLICIT thresholds: `bucket = 1 +
    * |{t in thresholds : value > t}|` (1 = lowest). Map-only and a
    * pure row function — given the same thresholds, the same row gets
    * the same band on any engine, any layout, any run. This is the
    * replay/resume surface: persist the thresholds (a k-1 double
    * artifact) and re-band against them exactly
    * ([[graft.pipeline.RunMix]] does).
    *
    * Fine print (ADVICE r6): a NULL or NaN `valueCol` yields a NULL
    * bucket (`null > t` is null, and the int casts propagate it) —
    * downstream per-band lookups like `element_at(rates, bucket)`
    * then rate the row null, i.e. SILENTLY DROP it; filter or impute
    * unscorable rows first and account for them (RunMix reports them
    * as the input→scorable delta). Duplicate threshold values are
    * accepted (`sorted` is non-strict): equal cut points t_i = t_i+1
    * simply leave band i+1 empty — a degenerate-but-valid banding
    * (constant-valued corpora produce it naturally). */
  def bucketByThresholds(df: DataFrame, valueCol: String,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted,
      s"thresholds must be non-empty ascending, got $thresholds")
    val bucket = thresholds.map(t =>
        (col(valueCol) > lit(t)).cast("int"))
      .foldLeft(lit(1))(_ + _)
    df.withColumn("bucket", bucket)
  }

  /** Quantile BUCKETING without a global sort: label each row with its
    * `buckets`-quantile band of `valueCol` (1 = lowest), the
    * stratification step before band-wise policies (sample the top
    * quality quartile harder via [[deterministicSampleByRate]], cap
    * the bottom one, report per-band stats). The layout-bound
    * alternative — `ntile(buckets) OVER (ORDER BY value)` — is a
    * corpus-global SORT with ties broken by physical row order;
    * this is a 1-row threshold aggregate broadcast into a map-only
    * comparison chain, so ties always sit in the same band (band
    * populations are therefore only approximately equal when values
    * repeat — the deterministic trade).
    *
    * Determinism fine print: GIVEN thresholds, banding is a pure row
    * function (see [[bucketByThresholds]]). The `exact = true`
    * thresholds are themselves fully deterministic; the default
    * sketch path merges `approx_percentile` partials in shuffle-fetch
    * arrival order, so at a scale where sketch buffers compress the
    * thresholds may drift WITHIN SKETCH ERROR between runs. A caller
    * that needs run-to-run replay at scale should compute
    * [[quantileThresholds]] once, persist the k-1 doubles, and band
    * via [[bucketByThresholds]] — not re-sketch per run. */
  def quantileBuckets(df: DataFrame, valueCol: String, buckets: Int,
      exact: Boolean = false): DataFrame = {
    val th = quantileThresholds(df, valueCol, buckets, exact)
    val bucket = (0 until buckets - 1).map(i =>
        (col(valueCol) > element_at(col("__t"), i + 1)).cast("int"))
      .foldLeft(lit(1))(_ + _)
    df.crossJoin(broadcast(th)) // 1 row by construction
      .withColumn("bucket", bucket)
      .drop("__t")
  }

  /** Deterministic training MIXTURE: union the named sources, each
    * downsampled to its mixture weight by the md5 draw above, tagged
    * with its source name. Column sets must match across sources
    * (enforced by unionByName). One epoch of a weighted data mix,
    * reproducible row-for-row on any engine or layout. */
  def weightedMixture(sources: Seq[(String, DataFrame, Double)],
      idCol: String): DataFrame = {
    require(sources.nonEmpty, "weightedMixture: no sources")
    sources.map { case (name, df, w) =>
      require(w >= 0 && w <= 1, s"weight for $name must be in [0,1], got $w")
      deterministicSampleBy(
        df.withColumn("__source", lit(name)), "__source", idCol,
        Map(name -> w))
        .withColumnRenamed("__source", "source_name")
    }.reduce(_.unionByName(_))
  }

  /** Deterministic epoch-shuffle key: a 60-bit md5 draw over
    * (epoch, id). Writing the mixture sorted by this key IS the
    * global shuffle — at scale a `repartitionByRange(shuffleKey)` +
    * sortWithinPartitions write, never a single global row_number.
    * Different epochs give independent orders; the same epoch replays
    * the same order anywhere (the point: a training run interrupted at
    * batch N resumes with the identical stream). */
  def epochShuffleKey(idCol: String, epoch: Int) =
    graft.functions.PortableHash.md5Hash60(
      concat_ws(":", lit(epoch), col(idCol).cast("string")))

  /** Sequence PACKING: assign each document a training sequence
    * (chunk, seq, start_off) under a token `budget` per sequence —
    * the sample-packing step that turns a shuffled corpus into
    * fixed-length training rows.
    *
    * Scale shape: a single global running sum would serialize the
    * corpus through one partition, so the epoch stream is first split
    * into `chunks` hash-chunks (each a self-contained shard of the
    * epoch order); packing is a running token-count window WITHIN a
    * chunk — `chunks` independent bounded windows, one shuffle.
    * `seq = floor(start_offset / budget)`: a document is assigned by
    * its start offset, so a sequence may overhang the budget by at
    * most one document tail — the consumer truncates or pads, and no
    * cross-document coordination is needed. Fully deterministic:
    * chunk, order, and offsets all derive from the md5 epoch key. */
  def packSequences(df: DataFrame, idCol: String, tokenCountCol: String,
      budget: Long, epoch: Int, chunks: Int): DataFrame = {
    require(budget > 0 && chunks > 0,
      s"budget and chunks must be positive, got ($budget, $chunks)")
    val key = epochShuffleKey(idCol, epoch)
    val chunk = pmod(key, lit(chunks.toLong)).cast("int")
    val w = Window.partitionBy("__chunk").orderBy(col("__key"), col(idCol))
    df.withColumn("__key", key)
      .withColumn("__chunk", chunk)
      .withColumn("__end",
        sum(col(tokenCountCol).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("start_off", col("__end") - col(tokenCountCol).cast("long"))
      .withColumn("seq", floor(col("start_off") / budget).cast("long"))
      .withColumnRenamed("__chunk", "chunk")
      .drop("__key", "__end")
  }

  /** CURRICULUM packing: [[packSequences]] with a training-order
    * prior — within each chunk the stream packs band 0 first, then
    * band 1, ... (md5-shuffled WITHIN a band), so early `seq` numbers
    * hold the highest-band documents. Because every chunk is ordered
    * the same way and a training loader interleaves chunks by `seq`,
    * the global stream is exactly curriculum-ordered per chunk and
    * curriculum-shaped overall — with NO global sort: the same
    * `chunks` independent bounded windows as [[packSequences]], one
    * shuffle.
    *
    * `bandCol` is any caller-supplied integer rank (0 = train first):
    * the [[quantileBuckets]] quality band inverted, a difficulty
    * score, a licensing tier. Null bands sort LAST (explicitly — asc
    * defaults differ across engines); a constant band degenerates to
    * [[packSequences]] exactly. Same output contract as
    * [[packSequences]] (chunk, seq, start_off). */
  def packSequencesCurriculum(df: DataFrame, idCol: String,
      tokenCountCol: String, bandCol: String, budget: Long, epoch: Int,
      chunks: Int): DataFrame = {
    require(budget > 0 && chunks > 0,
      s"budget and chunks must be positive, got ($budget, $chunks)")
    val key = epochShuffleKey(idCol, epoch)
    val chunk = pmod(key, lit(chunks.toLong)).cast("int")
    val w = Window.partitionBy("__chunk")
      .orderBy(col(bandCol).asc_nulls_last, col("__key"), col(idCol))
    df.withColumn("__key", key)
      .withColumn("__chunk", chunk)
      .withColumn("__end",
        sum(col(tokenCountCol).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("start_off", col("__end") - col(tokenCountCol).cast("long"))
      .withColumn("seq", floor(col("start_off") / budget).cast("long"))
      .withColumnRenamed("__chunk", "chunk")
      .drop("__key", "__end")
  }

  /** [[packSequences]] for MULTIPLE epochs in ONE pass — training
    * wants E epochs with per-epoch decorrelated orders, and running
    * the mix E times re-scores the corpus E times. Here each input
    * row fans out to one row PER epoch (an `explode` over the epoch
    * list — metadata columns only, the text never rides along), the
    * shuffle key salts on the `epoch` column exactly as
    * [[epochShuffleKey]] salts on its literal (same `concat_ws`
    * rendering, so per-epoch output is ROW-IDENTICAL to E separate
    * [[packSequences]] calls — MixSpec pins it), and the packing
    * windows partition by (epoch, chunk): E × `chunks` independent
    * bounded windows, still one shuffle, never a global sort. Output
    * adds the `epoch` column; write it `partitionBy("epoch")` so a
    * training run reads only its epoch's files. */
  def packSequencesEpochs(df: DataFrame, idCol: String,
      tokenCountCol: String, budget: Long, epochs: Seq[Int],
      chunks: Int): DataFrame = {
    require(budget > 0 && chunks > 0,
      s"budget and chunks must be positive, got ($budget, $chunks)")
    require(epochs.nonEmpty && epochs.distinct.size == epochs.size,
      s"epochs must be non-empty and distinct, got $epochs")
    val fanned = df.withColumn("epoch",
      explode(array(epochs.map(e => lit(e)): _*)))
    val key = graft.functions.PortableHash.md5Hash60(
      concat_ws(":", col("epoch"), col(idCol).cast("string")))
    val chunk = pmod(key, lit(chunks.toLong)).cast("int")
    val w = Window.partitionBy("epoch", "__chunk")
      .orderBy(col("__key"), col(idCol))
    fanned.withColumn("__key", key)
      .withColumn("__chunk", chunk)
      .withColumn("__end",
        sum(col(tokenCountCol).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("start_off", col("__end") - col(tokenCountCol).cast("long"))
      .withColumn("seq", floor(col("start_off") / budget).cast("long"))
      .withColumnRenamed("__chunk", "chunk")
      .drop("__key", "__end")
  }

  /** PACKING MANIFEST: the per-sequence audit of a [[packSequences]]
    * (or [[packSequencesEpochs]]) output — for every training
    * sequence, how many documents touch it (`n_docs`), how many START
    * in it (`n_starts`, the sample count a loader sees), how many of
    * its `budget` token slots are occupied (`tokens`), and the fill
    * as integer ppm (`fill_ppm`). This is the artifact a training run
    * reads to size itself (steps per epoch, padding waste) and the
    * audit that catches a mis-packed shard before a GPU does.
    *
    * A document occupies the half-open token span
    * `[start_off, start_off + n)` of its chunk's stream, so it can
    * CROSS sequence boundaries (the documented overhang rule: `seq`
    * assigns by start offset only). The manifest attributes every
    * overlapped slot to its true sequence: each row fans out to the
    * sequences its span touches (bounded explode — `ceil(n/budget)+1`
    * rows per doc, metadata only) and a hash aggregate sums the
    * overlaps. Every sequence except a chunk's last is exactly full
    * by construction (MixSpec pins it). Zero-token rows count toward
    * `n_docs`/`n_starts` of their assigned sequence but add no
    * tokens. One shuffle (the aggregate); nothing global.
    *
    * `groupCols` names the stream identity columns (`Seq("chunk")`
    * for one epoch, `Seq("epoch", "chunk")` for the multi-epoch
    * output). */
  def packingManifest(packed: DataFrame, tokenCountCol: String,
      budget: Long, groupCols: Seq[String] = Seq("chunk")): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val start = col("start_off").cast("long")
    val n = col(tokenCountCol).cast("long")
    // greatest(n, 1): a zero-token row still lands in exactly its
    // assigned sequence (sequence(a, b) with b < a would DESCEND)
    val firstSeq = floor(start / budget)
    val lastSeq = floor((start + greatest(n, lit(1L)) - 1) / budget)
    val keys = groupCols.map(col) :+ col("seq")
    packed
      .withColumn("seq", explode(sequence(firstSeq, lastSeq)))
      .withColumn("__tok",
        least(start + n, (col("seq") + 1) * budget) -
          greatest(start, col("seq") * budget))
      .withColumn("__starts",
        when(floor(start / budget) === col("seq"), 1L).otherwise(0L))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_docs"), sum("__starts").as("n_starts"),
        sum("__tok").as("tokens"))
      .withColumn("fill_ppm",
        floor(col("tokens") * 1000000L / budget).cast("long"))
  }

  // ------------------------------------------- train/val/test splitting

  /** The split label for a deterministic key draw: `u(salt, key) in
    * [0, 1e6)` (the [[deterministicSampleByRate]] md5 arithmetic)
    * compared against the CUMULATIVE floored ppm thresholds of
    * `weights` in declaration order — the first bucket whose
    * cumulative threshold exceeds the draw wins. Declaration order is
    * load-bearing (weights are NOT normalized: they must sum to 1;
    * rounding remainders fall into the LAST split, the conventional
    * train-gets-the-dust rule). Each weight is rounded to ppm as a
    * Long FIRST and the cumulative sum runs in integer space (ADVICE
    * r7: a double scanLeft makes 0.7+0.2 floor to 899999 — a 1-ppm
    * band skew an oracle computing thresholds from the ideal
    * fractions would flag). */
  private def splitLabel(key: Column, weights: Seq[(String, Double)],
      salt: String): Column = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0) &&
      math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must be non-negative and sum to 1, got $weights")
    val draw = conv(substring(
        md5(concat_ws(":", lit(salt), key.cast("string"))), 1, 15),
      16, 10).cast("long") % 1000000L
    val cums = weights.map(w => math.round(w._2 * 1000000L))
      .scanLeft(0L)(_ + _).tail
    weights.init.zip(cums.init).foldRight(
        lit(weights.last._1): Column) { case (((name, _), cum), rest) =>
      when(draw < cum, lit(name)).otherwise(rest)
    }
  }

  /** Deterministic TRAIN/VAL/TEST split: adds a `split` column from a
    * salted md5 draw on the id — a pure row function (map-only, no
    * shuffle, engine-replayable), so the assignment survives reruns,
    * repartitions, appends, and engine swaps; a grown corpus keeps
    * every existing row's split. Different salts draw independent
    * splits (the k-fold story). */
  def hashSplit(df: DataFrame, idCol: String,
      weights: Seq[(String, Double)], salt: String = "split"): DataFrame =
    df.withColumn("split", splitLabel(col(idCol), weights, salt))

  /** SPLIT LEAK AUDIT: given ANY split labeling (doc_id, split) and a
    * near-dup pair relation (id_a, id_b), count the pairs whose ends
    * landed in different splits — each one is a doc the model will be
    * evaluated on after training on its near-copy. The measurement
    * form of the [[leakSafeSplit]] guarantee: a leak-safe split reads
    * straddling = 0 by construction, a plain [[hashSplit]] reads the
    * leak it actually has (PropertiesSpec proves both; this operator
    * makes the check runnable against any split table in the lake).
    * Two label joins over the pair relation + a 1-row aggregate.
    * Output: (n_pairs, straddling, straddle_ppm). An EMPTY pair
    * relation reads (0, 0, 0), not a null ppm: zero known near-dup
    * pairs means zero measured leak, and an operator reading the
    * audit distinguishes "no dups" from "not run" by the row's
    * presence plus `n_pairs = 0` — never by a null it would have to
    * interpret. */
  def splitLeakAudit(splits: DataFrame, pairs: DataFrame): DataFrame = {
    val s = splits.select(col("doc_id"), col("split"))
    pairs.select(col("id_a"), col("id_b"))
      .join(s.select(col("doc_id").as("id_a"), col("split").as("__sa")),
        Seq("id_a"))
      .join(s.select(col("doc_id").as("id_b"), col("split").as("__sb")),
        Seq("id_b"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("__sa") =!= col("__sb"), 1)).as("straddling"))
      .select(col("n_pairs"), col("straddling"),
        when(col("n_pairs") === 0L, lit(0L))
          .otherwise(expr("(straddling * CAST(1000000 AS BIGINT)) DIV n_pairs"))
          .as("straddle_ppm"))
  }

  /** LEAK-SAFE split: near-duplicate documents always land in the SAME
    * split. A plain [[hashSplit]] leaks: two near-copies of one
    * document can straddle train and test, and the model is then
    * evaluated on (a fuzzy copy of) training data — the contamination
    * path dedup thresholds don't close because both copies SURVIVE a
    * dedup that keeps one per cluster only when they exceed its
    * threshold. Here the draw is keyed on the document's dup-CLUSTER
    * representative (connected components over `pairs`, min id — the
    * [[graft.operators.Dedup.dupClusters]] labels; singletons key on
    * themselves), so a whole near-dup family moves as one unit.
    *
    * `pairs` is ANY dup-pair frame (id_a, id_b) — n-gram Jaccard for
    * oracle-checkable splits (x48), MinHash+LSH at scale; the split
    * inherits the pair generator's scale shape, the assignment itself
    * adds one label join + a map-only draw. Split SIZES are
    * weight-proportional in EXPECTATION over clusters, not exact over
    * rows (a giant dup family lands whole — that is the point). */
  def leakSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      weights: Seq[(String, Double)], salt: String = "split"): DataFrame = {
    val labels = graft.operators.Dedup.dupClusters(pairs)
      .select(col("id").as(idCol), col("label"))
    df.join(labels, Seq(idCol), "left")
      .withColumn("__rep", coalesce(col("label"), col(idCol)))
      .withColumn("split", splitLabel(col("__rep"), weights, salt))
      .drop("label", "__rep")
  }

  // ------------------------------------------------- DSIR importance resampling

  /** Hashed bag-of-ngrams featurization for [[dsirScores]]: unigrams
    * plus bigrams of the normalized tokens, each hashed to a bucket in
    * `[0, buckets)` by the salted-md5 primitive (md5, not xxhash64, so
    * external oracles replay the bucketing exactly). Multiplicity is
    * KEPT — these are bag models, unlike the set-semantics
    * [[graft.operators.TextAnalysis.shinglesFromTokens]]. Returns an
    * array column; empty/null text yields an empty array. */
  /** The family featurizer: hashed unigram+bigram buckets, as the
    * NATIVE codegen expression [[graft.functions.NgramBuckets]] —
    * bit-identical to [[hashedNgramBucketsReference]] (spec-pinned),
    * ~9x faster at sf0.1 (NbAB: the interpreted HOF chain cost 4.0 s
    * where the native scan costs under 0.5 s — and this is the map
    * stage of every DSIR/LM/NB corpus scan). */
  private def hashedNgramBuckets(text: Column, buckets: Int,
      salt: String): Column =
    graft.functions.NgramBuckets.column(text, buckets, salt)

  /** The original column-algebra form — the exact algebra the DuckDB
    * oracles replay (x97, x152-x154), kept as the equivalence
    * REFERENCE for the native expression (FunctionsSpec compares them
    * row-for-row). */
  private[graft] def hashedNgramBucketsReference(text: Column, buckets: Int,
      salt: String): Column = {
    val toks = graft.operators.TextAnalysis.tokens(text)
    val bigrams = when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2),
          i => concat_ws(" ", slice(toks, i + 1, lit(2)))))
      .otherwise(array().cast("array<string>"))
    val feats = concat(coalesce(toks, array().cast("array<string>")), bigrams)
    transform(feats, f =>
      (conv(substring(md5(concat_ws(":", lit(salt), f)), 1, 15), 16, 10)
        .cast("long") % buckets).cast("int"))
  }

  /** DSIR-style importance score of each `raw` document toward a
    * `target` corpus (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): fit two hashed bag-of-ngrams
    * models — p from `target`, q from `raw` — and score each raw doc
    * by its log-likelihood ratio `sum_f [ln p(f) - ln q(f)]` under
    * add-one smoothing over `buckets` feature buckets.
    *
    * Determinism at scale: the per-BUCKET log-ratio is rounded ONCE to
    * integer micro-nats (`lscore_unats`, a Long), and the per-DOC
    * score is then a LONG sum of those — exact integer arithmetic,
    * invariant to partitioning and shuffle order (a double sum would
    * be order-dependent; the one `ln` per bucket is rounded at 1e-6
    * granularity, far above cross-engine libm ulp differences).
    *
    * Plan shape: featurize+explode `target` once (count by bucket),
    * featurize+explode `raw` ONCE (a lazily localCheckpointed
    * (idCol, bucket) fan-out feeds both the q counts and the scoring
    * join — r17; the pre-r17 form tokenized raw twice, once per
    * consumer); the model is MODEL-SIZED (≤ `buckets` rows
    * + a 1-row totals broadcast), so the scoring join broadcasts and
    * the only corpus-sized shuffle is the per-doc hash agg on `idCol`.
    * Docs with no features (empty text) keep score 0 with n_feats 0.
    *
    * Output: all `raw` columns + `score_unats` (Long micro-nats,
    * higher = more target-like) + `n_feats` (Long). */
  def dsirScores(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 1024,
      salt: String = "dsir"): DataFrame = {
    // ONE featurize+explode scan of `raw`, localCheckpoint-shared
    // between the q-model counts and the scoring join (r17: the
    // unshared form tokenized raw twice — the checkpoint rows are two
    // ints, never text; the scaladoc's "materialize the featurized
    // frame if the double scan matters" now holds by default). Same
    // algebra: q counts ignore idCol, scoring groups on it.
    val rawFeats =
      raw.select(col(idCol),
          explode(hashedNgramBuckets(col(textCol), buckets, salt))
            .as("bucket"))
        .localCheckpoint(eager = false)
    val rawState = rawFeats.groupBy("bucket").agg(count(lit(1)).as("n"))
    val model = dsirModelFromStates(rawState,
      dsirState(target, textCol, buckets, salt), buckets)
    val scores = rawFeats.join(broadcast(model), Seq("bucket"))
      .groupBy(idCol)
      .agg(sum(col("lscore_unats")).as("score_unats"),
        count(lit(1)).as("n_feats"))
    raw.join(scores, Seq(idCol), "left")
      .withColumn("score_unats", coalesce(col("score_unats"), lit(0L)))
      .withColumn("n_feats", coalesce(col("n_feats"), lit(0L)))
  }

  /** MERGEABLE DSIR feature-count state: one (bucket, n) row per
    * non-empty bucket from one featurize+explode scan of `df` — the
    * bag-of-ngrams counts behind [[dsirScores]]'s p and q models, in
    * the engine's growing-state shape (the [[graft.operators
    * .TextAnalysis.profileState]] pattern): integer counts add, so a
    * state grown batch-by-batch via [[mergeDsirStates]] is
    * bit-identical to a one-shot build, and maintaining the raw model
    * of a 100 TB corpus that arrives over a year costs one batch scan
    * per arrival, never a corpus re-scan. Model-sized: ≤ `buckets`
    * rows. */
  def dsirState(df: DataFrame, textCol: String, buckets: Int = 1024,
      salt: String = "dsir"): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    df.select(explode(hashedNgramBuckets(col(textCol), buckets, salt))
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
  }

  /** Associative merge of [[dsirState]] frames: union + one hash agg
    * over the model-sized states. `merge(a, merge(b, c)) ==
    * merge(merge(a, b), c) == state(a ∪ b ∪ c)` exactly (Long counts
    * add in any order). */
  def mergeDsirStates(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "mergeDsirStates: no states")
    states.reduce(_.unionByName(_))
      .groupBy("bucket").agg(sum(col("n")).as("n"))
  }

  /** The per-bucket log-ratio model from two [[dsirState]]s — rounded
    * ONCE to integer micro-nats (see [[dsirScores]] for why). The
    * model covers the FULL bucket domain `[0, buckets)` (absent
    * counts are 0 under add-one smoothing), so scoring a future batch
    * whose features hash to buckets neither corpus has seen joins a
    * real row instead of silently dropping the feature — the frozen-
    * model intake contract. Output: (bucket, lscore_unats), exactly
    * `buckets` rows. */
  def dsirModelFromStates(rawState: DataFrame, targetState: DataFrame,
      buckets: Int): DataFrame = {
    val spark = rawState.sparkSession
    val domain = spark.range(buckets)
      .select(col("id").cast("int").as("bucket"))
    val totals = rawState.agg(coalesce(sum(col("n")), lit(0L)).as("__tr"))
      .crossJoin(targetState.agg(coalesce(sum(col("n")), lit(0L)).as("__tt")))
    domain
      .join(rawState.select(col("bucket"), col("n").as("__cr")),
        Seq("bucket"), "left")
      .join(targetState.select(col("bucket"), col("n").as("__ct")),
        Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        round(lit(1e6) *
            (log(coalesce(col("__ct"), lit(0L)) + 1.0) -
             log(col("__tt") + buckets.toDouble) -
             log(coalesce(col("__cr"), lit(0L)) + 1.0) +
             log(col("__tr") + buckets.toDouble)), 0)
          .cast("long").as("lscore_unats"))
  }

  /** Content DIVERGENCE between two corpora from their [[dsirState]]s
    * alone — KL(p̂_A ‖ p̂_B) over the hashed bag-of-ngrams models under
    * add-one smoothing, the monitoring twin of [[graft.operators
    * .TextAnalysis.profileHistDrift]]: that one watches a SCORE's
    * distribution, this one watches the CONTENT distribution (topic /
    * vocabulary shift moves it while quality stands still). Computable
    * from two persisted states — week-over-week corpus drift never
    * re-reads last week's corpus.
    *
    * Exactness contract (the x75 rule): the per-bucket log-ratio
    * rounds ONCE to Long micro-nats, the numerator `Σ_b (ca_b+1) ·
    * lr_b` is exact integer arithmetic over the full bucket domain,
    * and the single division happens at readout. KL(A‖A) reads
    * exactly 0 (the four log terms cancel to within ulps — far below
    * the micro-nat rounding grain). Output: ONE
    * row — (total_a, total_b, kl_num_unats, kl_micronats) where
    * `kl_micronats = kl_num_unats / (total_a + buckets)` floored —
    * micro-nats per smoothed token of A. Work is bucket-bounded;
    * nothing touches a corpus. */
  def dsirDivergence(stateA: DataFrame, stateB: DataFrame,
      buckets: Int): DataFrame = {
    val spark = stateA.sparkSession
    val domain = spark.range(buckets)
      .select(col("id").cast("int").as("bucket"))
    val totals = stateA.agg(coalesce(sum(col("n")), lit(0L)).as("__ta"))
      .crossJoin(stateB.agg(coalesce(sum(col("n")), lit(0L)).as("__tb")))
    domain
      .join(stateA.select(col("bucket"), col("n").as("__ca")),
        Seq("bucket"), "left")
      .join(stateB.select(col("bucket"), col("n").as("__cb")),
        Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__ta"), col("__tb"),
        (coalesce(col("__ca"), lit(0L)) + 1L).as("__sa"),
        round(lit(1e6) *
            (log(coalesce(col("__ca"), lit(0L)) + 1.0) -
             log(col("__ta") + buckets.toDouble) -
             log(coalesce(col("__cb"), lit(0L)) + 1.0) +
             log(col("__tb") + buckets.toDouble)), 0)
          .cast("long").as("__lr"))
      .groupBy()
      .agg(max(col("__ta")).as("total_a"), max(col("__tb")).as("total_b"),
        sum(col("__sa") * col("__lr")).as("kl_num_unats"))
      .withColumn("kl_micronats",
        floor(col("kl_num_unats").cast("double") /
          (col("total_a") + lit(buckets.toLong)).cast("double")).cast("long"))
  }

  /** Score a batch against a FROZEN model — the incremental-intake
    * analogue of [[dsirScores]] (grow the raw state with the batch,
    * rebuild the bucket-bounded model, score only the batch): one
    * featurize+explode scan of the batch, a broadcast join against
    * the model, one per-doc hash agg of exact Long sums. Output: all
    * `batch` columns + `score_unats` + `n_feats`. */
  def dsirScoresAgainstModel(batch: DataFrame, model: DataFrame,
      idCol: String, textCol: String, buckets: Int = 1024,
      salt: String = "dsir"): DataFrame = {
    val batchB = batch.select(col(idCol),
      explode(hashedNgramBuckets(col(textCol), buckets, salt)).as("bucket"))
    val scores = batchB.join(broadcast(model), Seq("bucket"))
      .groupBy(idCol)
      .agg(sum(col("lscore_unats")).as("score_unats"),
        count(lit(1)).as("n_feats"))
    batch.join(scores, Seq(idCol), "left")
      .withColumn("score_unats", coalesce(col("score_unats"), lit(0L)))
      .withColumn("n_feats", coalesce(col("n_feats"), lit(0L)))
  }

  /** LM FLUENCY MODEL from a single count state — the CCNet-style
    * perplexity filter (Wenzek et al. 2020) in the engine's exact
    * algebra: where DSIR scores the RATIO toward a target corpus,
    * this scores absolute (negative) log-likelihood under one
    * corpus's own hashed bag-of-ngrams model. Per-bucket
    * `nll_unats` = round(1e6 · (ln(total + buckets) − ln(count + 1)))
    * — add-one smoothing, POSITIVE (a negated log-prob), rounded ONCE
    * to a Long so per-doc scores are exact integer sums. The model is
    * full-domain (`buckets` rows: unseen features score the smoothing
    * ceiling, never drop) and model-sized. */
  def lmModelFromState(state: DataFrame, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = state.sparkSession
    val domain = spark.range(buckets)
      .select(col("id").cast("int").as("bucket"))
    val total = state.agg(coalesce(sum(col("n")), lit(0L)).as("__t"))
    domain
      .join(state.select(col("bucket"), col("n").as("__c")),
        Seq("bucket"), "left")
      .crossJoin(broadcast(total))
      .select(col("bucket"),
        round(lit(1e6) * (log(col("__t") + buckets.toDouble) -
            log(coalesce(col("__c"), lit(0L)) + 1.0)), 0)
          .cast("long").as("nll_unats"))
  }

  /** Score documents under an [[lmModelFromState]] model: per-doc
    * total and per-feature mean negative log-likelihood in integer
    * micro-nats. The CCNet decision reads `mean_nll_unats`: LOW =
    * repetitive/templated text (the model predicts it too well), HIGH
    * = noise the model has never seen; a quality pipeline keeps the
    * middle band. One batch fan-out scan + a broadcast model join +
    * one per-doc hash agg; zero-feature docs keep zero totals and a
    * null mean. Scored against the corpus's OWN state (from
    * `RunIntake`'s `dsir_state/` or [[dsirState]] directly) this is a
    * self-perplexity audit; against another corpus's state it is a
    * domain-fit score. */
  def lmScores(batch: DataFrame, model: DataFrame, idCol: String,
      textCol: String, buckets: Int = 1024,
      salt: String = "dsir"): DataFrame = {
    val fb = batch.select(col(idCol),
      explode(hashedNgramBuckets(col(textCol), buckets, salt)).as("bucket"))
    val sc = fb.join(broadcast(model), Seq("bucket"))
      .groupBy(idCol)
      .agg(sum(col("nll_unats")).as("nll_unats"),
        count(lit(1)).as("n_feats"))
    batch.join(sc, Seq(idCol), "left")
      .withColumn("nll_unats", coalesce(col("nll_unats"), lit(0L)))
      .withColumn("n_feats", coalesce(col("n_feats"), lit(0L)))
      .withColumn("mean_nll_unats", expr("nll_unats DIV n_feats"))
  }

  /** DSIR selection: sample `k` documents from `raw` WITHOUT
    * replacement, with probability proportional to the exponentiated
    * importance score, via the Gumbel-top-k trick — `key = score +
    * Gumbel(0,1)` and take the k largest keys. The Gumbel draw is the
    * engine's salted-md5 uniform (`u = (draw + 0.5) / 1e6`, so u is
    * never 0 or 1), `g = -ln(-ln u)`, rounded to integer micro-nats
    * like the score itself — the selection is a pure function of the
    * data, replayable by an external oracle.
    *
    * The top-k plans as TakeOrderedAndProject (per-task k-bounded
    * heap, driver merges |tasks|·k rows — never a global sort). For a
    * budget-sized k (millions of docs), switch to a threshold:
    * [[quantileThresholds]] on `sel_key` + a filter keeps the
    * selection fully distributed.
    *
    * Output: all [[dsirScores]] columns + `sel_key` (Long), the k
    * selected docs, largest keys first (ties break on `idCol`). */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, k: Int, buckets: Int = 1024,
      salt: String = "dsir"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val draw = conv(substring(
        md5(concat_ws(":", lit(salt), lit("gumbel"),
          col(idCol).cast("string"))), 1, 15),
      16, 10).cast("long") % 1000000L
    val u = (draw.cast("double") + 0.5) / 1000000.0
    val gumbel = round(lit(-1e6) * log(-log(u)), 0).cast("long")
    dsirScores(raw, target, idCol, textCol, buckets, salt)
      .withColumn("sel_key", col("score_unats") + gumbel)
      .orderBy(desc("sel_key"), col(idCol))
      .limit(k)
  }

  // ====================================================================
  // LEARNED classifier: multinomial Naive Bayes over the hashed
  // bag-of-ngrams features (r12) — the trainable half of the quality/
  // language filter family. DSIR scores a likelihood RATIO between two
  // unlabeled corpora and the LM model scores absolute fluency; NB is
  // the LABELED form — train on a seed set (human-labeled quality,
  // known languages), score everything. This is the fastText-style
  // filter pattern (GPT-3's quality classifier, CCNet's langid) in the
  // engine's exact algebra: per-(label, bucket) log-probabilities
  // round ONCE to Long micro-nats, per-doc scores are exact integer
  // sums, and the argmax is a max-of-struct hash aggregate — the
  // whole train+classify path is replayable by an external oracle.
  //
  // Scale: training is one featurize+explode scan + a hash agg into a
  // (labels × buckets)-bounded state (mergeable — counts add, so the
  // state grows batch-by-batch like dsirState); the model broadcasts;
  // classification is one batch scan + a broadcast join + one per-doc
  // hash agg. No windows, no driver-side corpora.
  // ====================================================================

  /** Mergeable NB training state from a labeled frame: per-(label,
    * bucket) feature counts, plus one `bucket = -1` row per label
    * carrying its DOCUMENT count (the prior's numerator) — a single
    * unionable frame so growing the state batch-by-batch is the same
    * plain sum as [[mergeDsirStates]]. Model-sized: ≤ labels ×
    * (buckets + 1) rows. */
  def nbState(df: DataFrame, labelCol: String, textCol: String,
      buckets: Int = 1024, salt: String = "nb"): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val feats = df.select(col(labelCol).as("label"),
        explode(hashedNgramBuckets(col(textCol), buckets, salt))
          .as("bucket"))
      .groupBy("label", "bucket").agg(count(lit(1)).as("n"))
    val docs = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n"))
      .select(col("label"), lit(-1).as("bucket"), col("n"))
    feats.unionByName(docs)
  }

  /** Associative merge of [[nbState]] frames (counts add exactly). */
  def mergeNbStates(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "mergeNbStates: no states")
    states.reduce(_.unionByName(_))
      .groupBy("label", "bucket").agg(sum(col("n")).as("n"))
  }

  /** The NB model from a state: FULL-DOMAIN per-(label, bucket)
    * log-likelihoods `lp_unats = round(1e6 · (ln(c+1) − ln(total_ℓ +
    * buckets)))` (add-one smoothing — unseen features score the
    * smoothing floor, never drop) plus per-label log-priors on the
    * `bucket = -1` rows (`prior_unats = round(1e6 · (ln(docs_ℓ) −
    * ln(docs)))`). Exactly labels × (buckets + 1) rows — broadcast
    * material. */
  def nbModel(state: DataFrame, buckets: Int = 1024): DataFrame = {
    val spark = state.sparkSession
    // the state plan carries the TRAINING CORPUS scan; this model
    // derivation branches it 4 ways (labels, feature totals, doc
    // counts, the lp join) and Catalyst re-executes each branch (the
    // q08 un-sharing rule). The state is model-sized (≤ labels ×
    // (buckets+1) rows), so pin it ONCE — the corpus is scanned
    // exactly once no matter how many branches read the state
    val st = state.localCheckpoint()
    val labels = st.select("label").distinct()
    val domain = spark.range(buckets)
      .select(col("id").cast("int").as("bucket"))
    val featTotals = st.where(col("bucket") >= 0)
      .groupBy("label").agg(sum(col("n")).as("__tf"))
    val docCounts = st.where(col("bucket") === -1)
      .groupBy("label").agg(sum(col("n")).as("__nd"))
    val allDocs = docCounts.agg(sum(col("__nd")).as("__tot"))
    val lps = labels.crossJoin(domain)
      .join(st.where(col("bucket") >= 0), Seq("label", "bucket"), "left")
      .join(featTotals, Seq("label"))
      .select(col("label"), col("bucket"),
        round(lit(1e6) * (log(coalesce(col("n"), lit(0L)) + 1.0) -
            log(col("__tf") + buckets.toDouble)), 0)
          .cast("long").as("lp_unats"))
    val priors = docCounts.crossJoin(broadcast(allDocs))
      .select(col("label"), lit(-1).as("bucket"),
        round(lit(1e6) * (log(col("__nd").cast("double")) -
            log(col("__tot").cast("double"))), 0)
          .cast("long").as("lp_unats"))
    lps.unionByName(priors)
  }

  /** Classify `batch` under an [[nbModel]]: per doc, the argmax-label
    * of `prior_ℓ + Σ_features lp_ℓ(bucket)` — exact integer sums, the
    * argmax a single `max(struct(score, label))` hash aggregate (ties
    * break toward the LARGER label, deterministically). Docs with no
    * features (empty normalized text) fall back to the prior-only
    * argmax. Output: all `batch` columns + `predicted`, `score_unats`,
    * `n_feats`. One batch scan + a broadcast model join + one per-doc
    * hash agg — no windows, no corpus shuffle. */
  def nbClassify(batch: DataFrame, model: DataFrame, idCol: String,
      textCol: String, buckets: Int = 1024,
      salt: String = "nb"): DataFrame = {
    val priors = model.where(col("bucket") === -1)
      .select(col("label"), col("lp_unats").as("__prior"))
    val fb = batch.select(col(idCol),
      explode(hashedNgramBuckets(col(textCol), buckets, salt))
        .as("bucket"))
    val perLabel = fb
      .join(broadcast(model.where(col("bucket") >= 0)), Seq("bucket"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("lp_unats")).as("__s"), count(lit(1)).as("__nf"))
      .join(broadcast(priors), Seq("label"))
      .select(col(idCol), col("label"),
        (col("__s") + col("__prior")).as("__score"), col("__nf"))
    val pick = perLabel.groupBy(col(idCol))
      .agg(max(struct(col("__score"), col("label"))).as("__p"),
        max(col("__nf")).as("n_feats"))
      .select(col(idCol), col("__p.label").as("predicted"),
        col("__p.__score").as("score_unats"), col("n_feats"))
    // prior-only fallback for feature-less docs: a 1-row broadcast
    val fallback = priors
      .agg(max(struct(col("__prior"), col("label"))).as("__f"))
      .select(col("__f.label").as("__fb_label"),
        col("__f.__prior").as("__fb_score"))
    batch.join(pick, Seq(idCol), "left")
      .crossJoin(broadcast(fallback))
      .withColumn("predicted",
        coalesce(col("predicted"), col("__fb_label")))
      .withColumn("score_unats",
        coalesce(col("score_unats"), col("__fb_score")))
      .withColumn("n_feats", coalesce(col("n_feats"), lit(0L)))
      .drop("__fb_label", "__fb_score")
  }

  // ====================================================================
  // ITERATIVE trainer: hard-sigmoid logistic regression by batch
  // gradient descent, in EXACT integer algebra (r12) — the gradient
  // half of the learned-filter family (NB trains by counting; this
  // trains by descent, the shape a fastText-style linear probe
  // actually uses). Determinism is total: weights live in Long
  // micro-units, the activation is the hard sigmoid
  // p_ppm = (clamp(z, ±2e6) + 2e6) >> 2 (piecewise-linear — no
  // transcendentals anywhere), gradients are exact integer sums
  // (order-free under any partitioning), and the update divides with
  // TRUNCATING semantics on both engines (Long `/` here, `//` in
  // DuckDB — measured: -1493025 // 500000 = -2, toward zero) — so
  // every weight of every iteration is replayable bit-for-bit by
  // external SQL.
  // ====================================================================

  /** Train `iters` batch-GD steps from w = 0. `yPpm` is the label in
    * ppm (0 or 1e6); `xs` are integer feature columns (include a
    * lit(1) bias; keep magnitudes ≤ ~1000 so gradient sums stay in
    * Long). Update: w_i ← w_i − trunc(Σ_d x_i·(p−y) / (etaDen·n)).
    * One featurize scan (pinned), one 1-row aggregate per iteration —
    * the driver holds only the k weights. Output: (iter, i, w_unats),
    * one row per weight per iteration. */
  def hardLogitTrain(df: DataFrame, yPpm: Column, xs: Seq[Column],
      iters: Int, etaDen: Long): DataFrame = {
    require(iters >= 1 && xs.nonEmpty && etaDen >= 1,
      s"hardLogitTrain: iters=$iters, k=${xs.length}, etaDen=$etaDen")
    val spark = df.sparkSession
    import spark.implicits._
    val k = xs.length
    // featurize ONCE; iterations re-scan the pinned integer rows
    // (the standard iterative-GD caching pattern — at cluster scale
    // this is a persisted projection, never the raw corpus per step)
    val base = df.select(yPpm.cast("long").as("__y") +:
      xs.zipWithIndex.map { case (c, i) => c.cast("long").as(s"__x$i") }: _*)
      .localCheckpoint()
    val n = base.count()
    require(n > 0, "hardLogitTrain: empty training set")
    var w = Array.fill(k)(0L)
    val out = Seq.newBuilder[(Int, Int, Long)]
    for (it <- 1 to iters) {
      val z = (0 until k).map(i => col(s"__x$i") * lit(w(i)))
        .reduce(_ + _)
      val zc = greatest(lit(-2000000L), least(lit(2000000L), z))
      // (zc + 2e6) in [0, 4e6]: >> 2 is exact floor division by 4
      val p = shiftright(zc + lit(2000000L), 2)
      val diff = p - col("__y")
      val g = base.agg(
        sum(col("__x0") * diff).as("g0"),
        (1 until k).map(i => sum(col(s"__x$i") * diff).as(s"g$i")): _*)
        .head()
      w = w.zipWithIndex.map { case (wi, i) =>
        wi - g.getLong(i) / (etaDen * n) } // Long '/': truncation, like '//' 
      (0 until k).foreach(i => out += ((it, i, w(i))))
    }
    out.result().toDF("iter", "i", "w_unats")
  }

  /** Score under trained hard-logit weights (micro-units): the same
    * exact activation as training — (all df columns) + `score_ppm`
    * and `kept` (score ≥ 500000). Map-only. */
  def hardLogitScore(df: DataFrame, xs: Seq[Column],
      w: Seq[Long]): DataFrame = {
    require(xs.length == w.length, "hardLogitScore: |xs| != |w|")
    val z = xs.zip(w).map { case (c, wi) => c.cast("long") * lit(wi) }
      .reduce(_ + _)
    val zc = greatest(lit(-2000000L), least(lit(2000000L), z))
    df.withColumn("score_ppm", shiftright(zc + lit(2000000L), 2))
      .withColumn("kept", col("score_ppm") >= 500000L)
  }

  // ====================================================================
  // DOMAIN REWEIGHTING (r13) — the DoReMi idea (domain reweighting
  // with minimax optimization, Xie et al. 2023) reduced to the
  // engine's exact algebra: instead of hand-tuned mixture weights
  // (x73/x107's measured/temperature mixes), LEARN them — domains
  // whose mean difficulty sits above the current mixture-weighted
  // mean gain weight multiplicatively each round, easy domains lose
  // it, and the fixed point balances difficulty across the mixture.
  // The published method trains a proxy model per round; the engine
  // form takes any exact per-doc difficulty column (LM score, the
  // chars-per-token proxy, a learned-filter score) and runs the
  // multiplicative-weights outer loop exactly.
  // ====================================================================

  /** Multiplicative-weights domain reweighting. ONE corpus scan (the
    * per-domain (count, Σloss) aggregate — a domains-sized state);
    * every round after that is driver arithmetic over k domains:
    *
    *   mean_d   = Σloss_d DIV n_d                      (unats)
    *   wmean(t) = Σ w_d·mean_d DIV Σ w_d               (mixture mean)
    *   mult_d   = clamp(1e6 + η·(mean_d − wmean) DIV 1e6, [1, 2e6])
    *   w_d      ← max(1, w_d·mult_d DIV 1e6), then renormalized to
    *              EXACTLY 1e6 ppm by floor division + largest
    *              remainder (ties by domain name) — the measured-
    *              mixture exactness rule, so the weights are directly
    *              consumable by the existing samplers — and finally
    *              floored at 1 ppm (each raised zero paid by the
    *              current largest weights, ties by name): no domain
    *              ever silently vanishes from the mixture.
    *
    * Every operation is Long with truncating division — identical in
    * Spark, the JVM and DuckDB (`//`, the x157 lesson) — so ALL
    * iterations replay weight-for-weight in an external oracle.
    * Output: (iter, domain, weight_ppm), iter 0 = the uniform start
    * (also exact-sum 1e6: the first 1e6 mod k domains by name carry
    * +1). */
  def domainReweight(df: DataFrame, domainCol: String,
      lossUnats: Column, iters: Int, etaPpm: Long): DataFrame = {
    require(iters >= 1, s"domainReweight: iters must be >= 1, got $iters")
    require(etaPpm >= 1, s"domainReweight: etaPpm must be >= 1, got $etaPpm")
    val spark = df.sparkSession
    import spark.implicits._
    val st = df.groupBy(col(domainCol).cast("string").as("__d"))
      .agg(count(lit(1)).as("__n"), sum(lossUnats.cast("long")).as("__s"))
      .collect().map { r =>
        require(!r.isNullAt(2),
          s"domainReweight: domain '${r.getString(0)}' has an all-null " +
            "loss column — every domain needs at least one non-null " +
            "loss to carry a mean")
        (r.getString(0), r.getLong(1), r.getLong(2))
      }
      .sortBy(_._1)
    require(st.nonEmpty, "domainReweight: empty corpus")
    val k = st.length
    val mean = st.map { case (d, n, s) => d -> s / n }.toMap
    var w = st.zipWithIndex.map { case ((d, _, _), i) =>
      d -> (1000000L / k + (if (i < (1000000L % k).toInt) 1L else 0L))
    }.toMap
    val out = Seq.newBuilder[(Int, String, Long)]
    st.foreach { case (d, _, _) => out += ((0, d, w(d))) }
    for (it <- 1 to iters) {
      val totW = st.map(t => w(t._1)).sum
      val wmean = st.map { case (d, _, _) => w(d) * mean(d) }.sum / totW
      val updated = st.map { case (d, _, _) =>
        val mult = math.max(1L, math.min(2000000L,
          1000000L + etaPpm * (mean(d) - wmean) / 1000000L))
        d -> math.max(1L, w(d) * mult / 1000000L)
      }
      val s = updated.map(_._2).sum
      val floors = updated.map { case (d, x) =>
        (d, x * 1000000L / s, x * 1000000L % s) }
      val give = (1000000L - floors.map(_._2).sum).toInt
      val bump = floors.sortBy { case (d, _, rem) => (-rem, d) }
        .take(give).map(_._1).toSet
      val renormed = floors.map { case (d, f, _) =>
        d -> (f + (if (bump(d)) 1L else 0L)) }
      // POST-normalization floor: a low-weight domain whose floor
      // division hit 0 and who drew no remainder bump would silently
      // drop out of the mixture (the update step's max(1,·) floor is
      // PRE-normalization) — raise every zero to 1 ppm, paying each
      // ppm from the current largest weights (ties by name), so the
      // exact-1e6 sum is preserved and no domain ever vanishes
      val zeros = renormed.count(_._2 == 0L)
      w = if (zeros == 0) renormed.toMap
      else {
        val payers = renormed.sortBy { case (d, x) => (-x, d) }
          .take(zeros).map(_._1).toSet
        renormed.map { case (d, x) =>
          d -> (if (x == 0L) 1L else if (payers(d)) x - 1L else x)
        }.toMap
      }
      st.foreach { case (d, _, _) => out += ((it, d, w(d))) }
    }
    out.result().toDF("iter", "domain", "weight_ppm")
  }
}
