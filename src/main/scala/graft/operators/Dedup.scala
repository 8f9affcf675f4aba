package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale posture (the 100 TB contract):
  *  - exact dedup is one hash-aggregate on a 128-bit digest — never a
  *    shuffle of full documents;
  *  - fuzzy dedup always goes shingle -> signature -> *band bucket
  *    join* so candidate generation is an equi-join Catalyst can plan
  *    as a shuffled hash join; the quadratic jaccard verification runs
  *    only inside buckets;
  *  - signature computation is kept in whole-stage codegen: shingles /
  *    tokens are hashed to int64 ONCE (via the engine-portable
  *    [[graft.functions.PortableHash]] md5-60 family, so results are
  *    externally auditable), then the k permutations are cheap affine
  *    maps of that int64 folded by a hash-aggregate
  *    (explode -> groupBy(id).agg(min...)) — never a per-permutation
  *    re-hash of strings inside interpreted higher-order functions;
  *  - survivors are chosen with deterministic min-id rules so reruns
  *    are idempotent;
  *  - the persisted index tiers (exact, fuzzy, Hamming, span) store
  *    shard-partitioned [[IndexTable]]s, whose write, prune,
  *    emptied-read, takedown and meta rules are stated there once.
  *
  * Checkpoint lifetime, for every operator that `localCheckpoint`s: a
  * checkpoint lives while a DataFrame that reads it is reachable. A
  * returned result keeps its blocks for as long as the caller holds
  * it, and re-executes at any time; once the last such frame is
  * dropped, Spark's ContextCleaner frees the blocks at the next GC
  * (`spark.cleaner.referenceTracking`, on by default). No caller
  * releases anything. The one exception is a checkpoint superseded
  * inside a single call, freed eagerly by [[freeCheckpoint]].
  */
object Dedup {

  // ------------------------------------------------- checkpoint lifetime

  /** Free the blocks behind a localCheckpoint'ed frame that nothing
    * will read again — a round superseded INSIDE one call
    * ([[dupClusters]], [[Bpe.trainBatched]], [[Bpe.segmentVocab]]).
    * `Dataset.unpersist` releases only cacheManager entries; checkpoint
    * blocks sit on the frame's `LogicalRDD`. Spark logs a "cannot be
    * recomputed after unpersisting" WARN per call. Every other
    * checkpoint is left to the ContextCleaner (see [[Dedup]]). */
  private[operators] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  // ---------------------------------------------------------------- exact

  /** Exact dedup: keep the lowest-id row per identical value of
    * `exactOn` (byte-equal after the expression). GroupBy on a digest,
    * not the payload: at 100 TB the shuffle carries 16-byte keys.
    *
    * Plans as the lexicographic minimum of `struct(id, rest...)` per
    * digest — a hash aggregate with map-side partial combine — NOT a
    * `row_number()` window: the window form sorts every partition and
    * ships every duplicate across the shuffle, where the aggregate
    * folds duplicates where they sit (the q06 lesson,
    * [[graft.pipeline.AirQuality.firstPerKeyAgg]], measured ~2× at
    * sf0.1). Ties beyond the id (duplicate ids in dirty input) resolve
    * by the remaining columns ascending — strictly MORE deterministic
    * than the window form's arbitrary tie-break.
    *
    * Frames carrying an unorderable column (MapType) fall back to the
    * `row_number()` window ordered by id alone — the aggregate's
    * struct-min needs a total order over every packed column. */
  def exactSurvivors(df: DataFrame, idCol: String, exactOn: Column): DataFrame = {
    val orderable = df.schema.forall(f =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
    if (!orderable) {
      val w = Window.partitionBy(md5(exactOn.cast("string"))).orderBy(col(idCol).asc)
      df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
    } else {
      val others = df.columns.filterNot(_ == idCol)
      val packed = df
        .groupBy(md5(exactOn.cast("string")).as("__digest"))
        .agg(min(struct((col(idCol) +: others.map(col)).toIndexedSeq: _*)).as("__first"))
      packed.select(df.columns.map(c => col("__first").getField(c).as(c)).toIndexedSeq: _*)
    }
  }

  /** Exact-duplicate groups: digest -> group size + surviving id. */
  def exactGroups(df: DataFrame, idCol: String, exactOn: Column): DataFrame =
    df.groupBy(md5(exactOn.cast("string")).as("digest"))
      .agg(count(lit(1)).as("group_size"), min(col(idCol)).as("survivor_id"))

  /** Cross-corpus exact overlap (train/test contamination check, or
    * equivalently incremental dedup of `incoming` against an existing
    * corpus): match on content digest, never on payload — the join
    * shuffles 16-byte keys regardless of document size. `exactOn`
    * should be the canonicalized content (e.g.
    * [[TextAnalysis.fingerprint]]'s input) so near-identical casing/
    * punctuation variants count as contamination. */
  def crossCorpusOverlap(left: DataFrame, leftId: String,
      right: DataFrame, rightId: String, exactOn: Column): DataFrame = {
    val l = left.select(col(leftId).as("left_id"),
      md5(exactOn.cast("string")).as("digest"))
    val r = right.select(col(rightId).as("right_id"),
      md5(exactOn.cast("string")).as("digest"))
    l.join(r, "digest").select("digest", "left_id", "right_id")
  }

  /** Incremental dedup: keep only `incoming` rows whose digest is NOT
    * already in `existing` — a left anti join on the digest. */
  def incrementalSurvivors(existing: DataFrame, incoming: DataFrame,
      exactOn: Column): DataFrame = {
    val seen = existing.select(md5(exactOn.cast("string")).as("__digest")).distinct()
    incoming
      .withColumn("__digest", md5(exactOn.cast("string")))
      .join(seen, Seq("__digest"), "left_anti")
      .drop("__digest")
  }

  // ------------------------------- persisted exact (digest) index

  /** Build a PERSISTED digest index — the EXACT-tier twin of
    * [[buildFuzzyIndex]]: at 100 TB the corpus's digest set is itself
    * lake-sized (16 bytes × rows), so [[incrementalSurvivors]]'s
    * "recompute the existing side per batch" stops being free. One
    * [[IndexTable]] under `path`: `digests/` (id, digest), partitioned
    * by `__shard = pmod(xxhash64(digest), nShards)`, plus a 1-row
    * `meta/`. A probe reads ONLY the shards the batch's own digests
    * hash to.
    *
    * Contract asymmetry vs the fuzzy index (deliberate): `exactOn` is
    * an EXPRESSION and cannot be persisted in meta — the caller must
    * pass the SAME expression to build, probe, and append (pass
    * `md5`-stable canonical forms like
    * [[TextAnalysis.fingerprint]]'s normalize; a drifted expression
    * silently probes a disjoint digest space). Digests are distinct
    * per build input; duplicate ids across appends follow the
    * [[appendToFuzzyIndex]] idempotency note. */
  def buildExactIndex(corpus: DataFrame, idCol: String, exactOn: Column,
      path: String, nShards: Int = 64): Unit = {
    val digests = digestsTable(path)
    val rows = digestRows(corpus, col(idCol).as("id"), exactOn, nShards)
    digests.write(rows, org.apache.spark.sql.SaveMode.Overwrite)
    IndexTable.writeMeta(corpus.sparkSession.range(1)
      .select(lit(nShards).as("n_shards"), digests.ddl(rows)), digests.metaDir)
  }

  /** The `digests/` table of a [[buildExactIndex]] layout. Its meta
    * predating `digest_ddl` reads emptied as the BIGINT-id shape. */
  private def digestsTable(path: String) = IndexTable(s"$path/digests",
    "__shard", s"$path/meta", "digest_ddl",
    Some("id BIGINT, digest STRING, __shard INT"))

  /** (`id`, digest, __shard) rows of `df` under an nShards layout. */
  private def digestRows(df: DataFrame, id: Column, exactOn: Column,
      nShards: Int): DataFrame =
    df.select(id, md5(exactOn.cast("string")).as("digest"))
      .withColumn("__shard", pmod(xxhash64(col("digest")), lit(nShards.toLong)))

  /** The one row of an index's `meta/` (see [[IndexTable.meta]]). */
  private def metaRow(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.Row =
    IndexTable.meta(spark, s"$path/meta").head

  private def exactIndexShards(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    metaRow(spark, path).getAs[Int]("n_shards")

  // Bloom sidecar parameters for the exact index (fixed — the layout
  // is self-consistent as long as build/append/probe share them).
  private val bloomK = 7
  private val bloomBits = 1L << 20

  private def bloomPath(path: String) = s"$path/bloom"

  private def hasBloom(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(bloomPath(path))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Build (or rebuild) the NEGATIVE-CACHE sidecar of a
    * [[buildExactIndex]] layout: the [[Bloom]] set-bits relation of
    * every indexed digest, at `<path>/bloom/`. Once present,
    * [[probeExactIndex]] screens each batch against it first —
    * definitely-new digests (the bulk of a healthy crawl batch) skip
    * the index partition reads entirely, and the shard-prune set
    * shrinks to the maybe-seen digests' shards. [[appendToExactIndex]]
    * maintains it incrementally (bits land BEFORE digests, so a crash
    * can only leave harmless extra bits — never a false negative).
    * Takedowns leave bits behind (a Bloom cannot unset) — stale bits
    * are false-positive-only; REBUILD here after heavy deletes. */
  def buildExactBloom(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    Bloom.build(digestsTable(path).readAll(spark), col("digest"),
        bloomK, bloomBits)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(bloomPath(path))
  }

  /** APPEND a batch's (digest, id) rows into a [[buildExactIndex]]
    * layout ([[IndexTable]]'s WRITE rule). Returns the touched shard
    * ids (bounded by nShards). */
  def appendToExactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, exactOn: Column): Seq[Long] = {
    val rows = digestRows(batch, col(idCol).as("id"), exactOn,
      exactIndexShards(spark, path))
    if (hasBloom(spark, path)) {
      // bits FIRST (see buildExactBloom): plain append — the probe
      // reads the relation through distinct(), so duplicate bit rows
      // from replays/overlaps cost nothing but bytes
      Bloom.build(rows, col("digest"), bloomK, bloomBits)
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(bloomPath(path))
    }
    digestsTable(path).write(rows, org.apache.spark.sql.SaveMode.Append)
    IndexTable.shards(rows, col("__shard"))
  }

  /** Probe a [[buildExactIndex]] index: (in_id, corpus_id, digest)
    * exact-duplicate pairs between batch and indexed corpus, reading
    * ONLY the shard partitions the batch's own digests hash to
    * ([[IndexTable]]'s PRUNE rule). */
  def probeExactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      incoming: DataFrame, idCol: String, exactOn: Column): DataFrame = {
    val inRows0 = digestRows(incoming, col(idCol).as("in_id"), exactOn,
      exactIndexShards(spark, path))
    // NEGATIVE-CACHE SCREEN: when the bloom sidecar exists, only
    // maybe-seen digests proceed — a definitely-new digest can have
    // no index match (no false negatives, spec-pinned equivalence),
    // so the screen changes I/O, never decisions. The set-bits
    // relation is broadcast-sized (≤ bits rows); distinct() absorbs
    // duplicate bit rows from appends/replays
    val inRows =
      if (!hasBloom(spark, path)) inRows0
      else {
        val bloomBitsRel = spark.read.parquet(bloomPath(path)).distinct()
        val maybe = Bloom.probe(bloomBitsRel,
            inRows0.select("digest"), col("digest"), bloomK, bloomBits)
          .where(col("maybe_present"))
          .select(col("term").as("digest"))
        inRows0.join(maybe, Seq("digest"), "left_semi")
      }
    // shards collected AFTER the screen: a mostly-novel batch prunes
    // to the few shards its maybe-seen digests hash to
    val idx = digestsTable(path).readFor(spark, inRows, col("__shard"))
    inRows.select("in_id", "digest")
      .join(idx.select(col("id").as("corpus_id"), col("digest")), "digest")
      .select(col("in_id"), col("corpus_id"), col("digest"))
  }

  /** One incremental EXACT-intake step, first-wins: within-batch
    * exact dedup ([[exactSurvivors]] — lowest id per digest), probe
    * the index, append the accepted rows, return them (checkpointed —
    * the probe never re-executes for the caller's write). The exact
    * sibling of [[intakeStepAgainstFuzzyIndex]]; a duplicate arriving
    * any number of batches after its original is dropped.
    *
    * CRASH RECOVERY (the growing-index durability contract, spec-
    * pinned in FunctionsSpec and documented in SCALE.md): the rule is
    * re-run the SAME step — exactly what a foreachBatch checkpoint
    * replay does. The probe ignores index rows carrying the batch's
    * OWN ids (`corpus_id != in_id`; ids are corpus-unique by the
    * framework precondition, so a same-id hit can only be this
    * batch's earlier crashed append), which makes the step IDEMPOTENT:
    * a replay after a completed append returns the same accepted rows
    * instead of dropping the whole batch against itself, and a replay
    * after a partial append converges to the never-crashed decisions.
    * The re-append duplicates index rows for the replayed batch;
    * decisions are insensitive to that (dup flags are distinct ids,
    * survivor sets are anti-joins) — exactly-once row delivery is the
    * stream checkpoint's job, not the layout's. */
  def intakeStepAgainstExactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, exactOn: Column): DataFrame = {
    val batchSurvivors = exactSurvivors(batch, idCol, exactOn)
    val dups = probeExactIndex(spark, path, batchSurvivors, idCol, exactOn)
      .where(col("corpus_id") =!= col("in_id"))
      .select(col("in_id").as(idCol)).distinct()
    val accepted =
      batchSurvivors.join(dups, Seq(idCol), "left_anti").localCheckpoint()
    appendToExactIndex(spark, path, accepted, idCol, exactOn)
    accepted
  }

  /** What one index DELETE actually did — row counts removed and the
    * exact shard partitions rewritten (bounded by nShards, the
    * model-sized driver artifact), so specs can assert the footprint
    * without listing the lake. */
  final case class IndexDeleteReport(
      rowsDeleted: Long, touchedShards: Seq[Long])

  /** TAKEDOWN from a [[buildExactIndex]] layout: remove the given
    * documents' (digest, id) rows, so a FUTURE copy of a removed doc
    * is ADMITTED again — the retention/licensing obligation a
    * training-data index must honor (a deleted doc's digest must not
    * keep blocking near-copies forever). Takes the docs (id +
    * `exactOn`), not bare ids: the layout shards by DIGEST hash, so
    * the digest is what locates the rows — an id-only delete would be
    * an O(index) scan, this one rewrites ONLY the shards the docs' own
    * digests hash to ([[IndexTable]]'s TAKEDOWN rule). */
  def deleteFromExactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, idCol: String, exactOn: Column)
      : IndexDeleteReport = {
    val targets = digestRows(docs, col(idCol).cast("long").as("id"), exactOn,
      exactIndexShards(spark, path))
    val doomed = targets.select("id").distinct()
    digestsTable(path).takedown(spark, IndexTable.shards(targets, col("__shard")))(
      _.join(doomed, Seq("id"), "left_anti"))
  }

  /** TAKEDOWN from a [[buildFuzzyIndex]] layout: remove the given ids'
    * `sets/` AND `bands/` rows. Needs only the IDS — the index is its
    * own locator: `sets/` shards by id directly, and the doomed band
    * buckets are re-derived from the ids' own stored signatures
    * (read shard-pruned by id) with the index's meta parameters, so
    * both rewrites touch only the shard partitions the removed docs
    * actually live in ([[IndexTable]]'s TAKEDOWN rule). The derived
    * bucket set is a superset of what appends wrote (saturation only
    * withholds band rows), so no orphan can survive. After the delete
    * a future near-copy of a removed doc is ADMITTED (spec-pinned). */
  def deleteFromFuzzyIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String)
      : Map[String, IndexDeleteReport] = {
    val m = fuzzyIndexMeta(spark, path)
    val doomed = ids.select(col(idCol).cast("long").as("id")).distinct()
    val sets = fuzzySets(path)
    val idShards = IndexTable.shards(doomed, idShard(col("id"), m.nShards))
    // the ids' own stored signatures locate their band buckets —
    // collected before the sets/ rewrite below replaces them
    val bandShards = IndexTable.shards(
      lshBandRows(sets.read(spark, idShards)
        .join(doomed, Seq("id"), "left_semi"), m.k, m.bands),
      bucketShard(m.nShards))
    Map("sets" -> sets.takedown(spark, idShards)(
        _.join(doomed, Seq("id"), "left_anti")),
      "bands" -> bandsTable(path).takedown(spark, bandShards)(
        _.join(doomed, Seq("id"), "left_anti")))
  }

  // -------------------------------------------------------------- minhash

  /** The DISTINCT shingle-hash set per document as an array column
    * `(id, hs)` — ONE native expression per document
    * ([[graft.functions.ShingleHashes]]: tokenize, token md5-60,
    * shingle md5-60, distinct, all inside whole-stage codegen; no
    * window, no shuffle, no token-row explosion, no interpreted HOFs).
    * A doc with zero tokens produces no row (the historical
    * `size(th) > 0` gate — a doc with ≥1 token always has ≥1
    * shingle, so filtering on `hs` is the same predicate). */
  def shingleHashArrays(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame =
    Rebalance(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        graft.functions.ShingleHashes.column(col("__text"), shingleN).as("hs"))
      .where(size(col("hs")) > 0)

  /** MinHash signature + verification set from per-document shingle
    * ARRAYS — map-only (no shuffle at all between tokenize and
    * banding); output `(id, hs: array<long>, sig: array<long>[k])`,
    * the overflow-free mod-2^31-1 affine family, externally
    * replayable. The signature is a single native expression, not k
    * `array_min(transform(...))` folds: HOFs run interpreted
    * (CodegenFallback), so the fold form
    * cost k × |hs| boxed lambda frames per document and a k-wide
    * projection for janino to compile; [[graft.functions.MinHashSig]]
    * is one tight loop inside whole-stage codegen. */
  def minHashBaseFromArrays(arrs: DataFrame, k: Int): DataFrame =
    arrs.select(col("id"), col("hs"),
      graft.functions.MinHashSig.column(col("hs"), k).as("sig"))

  /** LSH banding over a signature array: band b's bucket key is the
    * comma-joined string of (b, its `k/bands` signature slots) — a
    * plain value concatenation any engine reproduces. Output: one
    * (id, band, bucket) row per band. */
  def lshBandRows(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows)
        .map(i => element_at(col("sig"), i + 1))
      struct(lit(b).as("band"), concat_ws(",", lit(b) +: cols: _*).as("bucket"))
    }
    sig.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate pairs via MinHash+LSH band buckets, verified with exact
    * Jaccard over the hashed shingle sets. Returns (id_a, id_b,
    * jaccard) with id_a < id_b, one row per surviving pair.
    *
    * Plan shape: docs -> shingles -> hash once -> explode -> k min
    * aggregates (partial map-side, final after one narrow shuffle on
    * id) -> band rows -> self equi-join on (band, bucket) -> distinct
    * pair -> verify with one array_intersect per pair. All shuffles
    * key on fixed-width ints. Giant buckets (degenerate content) are
    * the skew risk at scale — cap them with `maxBucketSize`. */
  def minHashDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 8,
      threshold: Double = 0.8, maxBucketSize: Int = 1000,
      checkpointBase: Boolean = false): DataFrame =
    minHashDupPairsFromBase(
      minHashBaseFromArrays(shingleHashArrays(df, idCol, textCol, shingleN), k),
      k, bands, threshold, maxBucketSize, checkpointBase = checkpointBase)

  /** Pair generation from a precomputed [[minHashBaseFromArrays]]. The base
    * feeds FOUR plan branches (both sides of the band self-join, both
    * verification lookups); AQE's shuffle-stage reuse dedupes the
    * identical ones at runtime. Measured guidance (sf0.1, local[32],
    * post-codegen base = one 0.4s map pass): recompute + AQE reuse
    * beats BOTH `persist()` (columnar-caching 64 signature columns was
    * 2.5× worse) and `localCheckpoint` (cold 3.0s vs 4.0s, warm equal —
    * the checkpoint's block store is cheap, ~0.1s, but it inserts a
    * serial stage barrier: every base task must finish before ANY
    * downstream stage starts, where the un-checkpointed plan overlaps
    * them; that barrier was the r2 "unexplained ~1.5s"). So
    * `checkpointBase` now defaults to FALSE. Turn it on — or better,
    * write the base to the lake and call this method on the read-back —
    * when the tokenize+shingle scan dominates (corpus sizes where one
    * extra pass over the text is hours) or the base is reused across
    * runs (incremental dedup). */
  def minHashDupPairsFromBase(base0: DataFrame, k: Int, bands: Int,
      threshold: Double, maxBucketSize: Int,
      checkpointBase: Boolean = false): DataFrame = {
    // LAZY (eager=false): building the DataFrame — e.g. for plan
    // inspection — must not run a job; the first action materializes.
    // localCheckpoint blocks are executor-local and non-fault-tolerant.
    val base =
      if (checkpointBase) base0.localCheckpoint(eager = false)
      else base0
    val pairs = lshCandidatePairs(base, k, bands, maxBucketSize)
    val withSets = pairs
      .join(base.select(col("id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("hs").as("hs_b")), "id_b")
    withSets
      .withColumn("__inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard", jaccardFromIntersect(
        col("__inter"), size(col("hs_a")), size(col("hs_b"))))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** LSH candidate pairs from a signature base: band rows, then
    * unordered pairs per bucket IN-ROW — the bucket's member ids are
    * grouped and expanded with the codegen'd
    * [[graft.functions.SortedPairs]], so one hash aggregate replaces
    * the classic agg + size-cap join + shuffled self-join (measured
    * faster at sf0.1 even as an interpreted HOF), the degenerate-
    * bucket cap becomes a plain size filter, and the pair SET is
    * order-normalized so the collect's partition-dependent ordering
    * cannot leak into results.
    *
    * The collect itself is SIZE-BOUNDED ([[graft.functions.CappedIds]],
    * stops at maxBucketSize + 1 elements): a degenerate bucket — empty
    * or boilerplate docs sharing a signature, the LSH skew case — is
    * proven over-cap and dropped without its full membership ever
    * occupying an aggregation buffer row, so the "memory bounded by
    * cap²" guarantee holds at the aggregate too, not just at the pair
    * expansion. Results are identical to an uncapped collect + size
    * filter (under-cap buckets collect in full; over-cap buckets yield
    * cap + 1 ids — still over the filter, still dropped). */
  private def lshCandidatePairs(base: DataFrame, k: Int, bands: Int,
      maxBucketSize: Int): DataFrame = {
    val banded = lshBandRows(base, k, bands)
    banded.groupBy("band", "bucket")
      .agg(graft.functions.CappedIds.column(col("id"), maxBucketSize).as("__ids"))
      .where(size(col("__ids")).between(2, maxBucketSize))
      .select(explode(graft.functions.SortedPairs.column(col("__ids"))).as("__p"))
      .select(col("__p.id_a"), col("__p.id_b"))
      .distinct()
  }

  // ------------------------------------- persisted fuzzy (MinHash) index

  /** Parameters a [[buildFuzzyIndex]] run was built with, read back by
    * [[probeFuzzyIndex]] from the index's own meta table — so a
    * build/probe parameter mismatch (different shingle n, permutation
    * count, banding, or shard layout silently yielding zero matches)
    * is impossible by construction. */
  final case class FuzzyIndexMeta(
      shingleN: Int, k: Int, bands: Int, nShards: Int, maxBucketSize: Int)

  /** Read the meta table of a persisted fuzzy index (cached per path,
    * [[IndexTable]]'s META rule). */
  def fuzzyIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): FuzzyIndexMeta = {
    val r = metaRow(spark, path)
    FuzzyIndexMeta(r.getAs[Int]("shingle_n"), r.getAs[Int]("k"),
      r.getAs[Int]("bands"), r.getAs[Int]("n_shards"), r.getAs[Int]("max_bucket"))
  }

  /** The `sets/` table of a [[buildFuzzyIndex]] layout. */
  private def fuzzySets(path: String) =
    IndexTable(s"$path/sets", "__idshard", s"$path/meta", "sets_ddl")

  /** The `bands/` table of a [[buildFuzzyIndex]] or [[buildHammingIndex]]
    * layout. */
  private def bandsTable(path: String) =
    IndexTable(s"$path/bands", "__shard", s"$path/meta", "bands_ddl")

  /** The id shard of the fuzzy and Hamming `sets/`/`sigs/` tables. */
  private def idShard(id: Column, nShards: Int): Column =
    pmod(id.cast("long"), lit(nShards.toLong))

  /** The bucket shard of the fuzzy `bands/` table. */
  private def bucketShard(nShards: Int): Column =
    pmod(xxhash64(col("bucket")), lit(nShards.toLong))

  /** Build a PERSISTED MinHash signature index over a corpus — the
    * incremental-fuzzy-dedup counterpart of [[IvfAnn.buildIndexInt]]:
    * pay the corpus text scan (tokenize → shingle-hash → k-slot
    * signature) ONCE at build time, then dedup every incoming batch by
    * [[probeFuzzyIndex]] without ever rescanning or re-signing the
    * corpus. Two [[IndexTable]]s and a meta row under `path`:
    *  - `sets/`  (id, hs, sig), partitioned by
    *    `__idshard = pmod(id, nShards)` — the verification side;
    *  - `bands/` (band, bucket, id), partitioned by
    *    `__shard = pmod(xxhash64(bucket), nShards)` — the candidate-
    *    generation side;
    *  - `meta/`  one row of build parameters (see [[FuzzyIndexMeta]]).
    * Degenerate buckets (membership > maxBucketSize — boilerplate
    * content sharing a signature, the LSH skew case) are dropped AT
    * BUILD time ([[IndexTable.dropOverCap]]) — the same policy
    * [[minHashDupPairs]] applies per run, paid once here so probes
    * stay cap-free and bounded.
    * The corpus text is scanned once: `bands/` derives from the
    * written `sets/` (compact id+signature rows), not from the text.
    * `idCol` must be integral (it becomes the sets/ shard key). */
  def buildFuzzyIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      nShards: Int = 64, maxBucketSize: Int = 1000): Unit = {
    val idType = corpus.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"buildFuzzyIndex: idCol '$idCol' must be integral, got ${idType.catalogString}")
    val spark = corpus.sparkSession
    val sets = fuzzySets(path)
    val setRows =
      minHashBaseFromArrays(shingleHashArrays(corpus, idCol, textCol, shingleN), k)
        .withColumn("__idshard", idShard(col("id"), nShards))
    sets.write(setRows, org.apache.spark.sql.SaveMode.Overwrite)
    val bandRows = IndexTable.dropOverCap(
        lshBandRows(sets.readAll(spark), k, bands), maxBucketSize)
      .withColumn("__shard", bucketShard(nShards))
    bandsTable(path).write(bandRows, org.apache.spark.sql.SaveMode.Overwrite)
    IndexTable.writeMeta(spark.range(1).select(
        lit(shingleN).as("shingle_n"), lit(k).as("k"), lit(bands).as("bands"),
        lit(nShards).as("n_shards"), lit(maxBucketSize).as("max_bucket"),
        sets.ddl(setRows), bandsTable(path).ddl(bandRows)),
      s"$path/meta")
  }

  /** Probe a [[buildFuzzyIndex]] index with an incoming batch: fuzzy
    * duplicate pairs (in_id, corpus_id, jaccard >= threshold) between
    * batch and corpus, WITHOUT rescanning the corpus text. The batch
    * is signed map-side (same portable hash family as the build, with
    * the build's own parameters from `meta/`), its band rows equi-join
    * the persisted `bands/` table, and the surviving candidate ids
    * look up their exact shingle sets in `sets/` for full Jaccard
    * verification.
    *
    * I/O shape (the point of the index): `bands/` is read pruned to
    * the batch's bucket shards and `sets/` to the candidates' id
    * shards ([[IndexTable]]'s PRUNE rule), so a small batch reads a
    * FRACTION of both tables, proportional to its own bucket spread,
    * never the corpus. The candidate pair set is localCheckpointed so
    * the band join executes once while feeding both the shard
    * collection and the verification join — this makes the call
    * eagerly run the candidate job. `checkpointCandidates = false`
    * keeps the probe plan-inspectable (candidate generation then
    * re-executes per consumer — the plan-audit and tiny-batch mode). */
  def probeFuzzyIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      incoming: DataFrame, idCol: String, textCol: String, threshold: Double,
      checkpointCandidates: Boolean = true): DataFrame = {
    val m = fuzzyIndexMeta(spark, path)
    val inBase =
      minHashBaseFromArrays(shingleHashArrays(incoming, idCol, textCol, m.shingleN), m.k)
    val inBands = lshBandRows(inBase, m.k, m.bands)
      .withColumn("__shard", bucketShard(m.nShards))
    val corpusBands = bandsTable(path).readFor(spark, inBands, col("__shard"))
    val cand0 = inBands.select(col("id").as("in_id"), col("band"), col("bucket"))
      .join(corpusBands.select(col("id").as("corpus_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("in_id", "corpus_id").distinct()
    val cand =
      if (checkpointCandidates) cand0.localCheckpoint()
      else cand0
    val sets = fuzzySets(path)
      .readFor(spark, cand, idShard(col("corpus_id"), m.nShards))
    cand
      .join(inBase.select(col("id").as("in_id"), col("hs").as("__ha")), "in_id")
      .join(sets.select(col("id").as("corpus_id"), col("hs").as("__hb")), "corpus_id")
      .withColumn("__inter", size(array_intersect(col("__ha"), col("__hb"))))
      .withColumn("jaccard", jaccardFromIntersect(
        col("__inter"), size(col("__ha")), size(col("__hb"))))
      .where(col("jaccard") >= threshold)
      .select(col("in_id"), col("corpus_id"), col("jaccard"))
  }

  /** Incremental FUZZY dedup (the near-dup cousin of
    * [[incrementalSurvivors]]'s exact digest check): keep only
    * `incoming` rows with NO fuzzy duplicate in the indexed corpus —
    * an anti-join against [[probeFuzzyIndex]]'s flagged batch ids.
    * Index rows with a batch row's OWN id are ignored (with corpus-
    * unique ids they can only be this batch's earlier crashed append —
    * the replay-idempotency rule, see
    * [[intakeStepAgainstExactIndex]]'s crash-recovery note). */
  def incrementalFuzzySurvivors(spark: org.apache.spark.sql.SparkSession,
      path: String, incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val dups = probeFuzzyIndex(spark, path, incoming, idCol, textCol, threshold)
      .where(col("corpus_id") =!= col("in_id"))
      .select(col("in_id").as(idCol)).distinct()
    incoming.join(dups, Seq(idCol), "left_anti")
  }

  /** What one [[appendToFuzzyIndex]] call actually wrote — returned so
    * callers (and the plan-audit spec) can assert the I/O footprint
    * without listing the lake: row counts per table, the exact shard
    * partitions touched (bounded by nShards, the same model-sized
    * driver artifact as the probe's prune lists), and how many band
    * rows were withheld by the saturation cap. */
  final case class FuzzyAppendReport(
      setsRows: Long, bandRows: Long, saturatedRows: Long,
      setsShards: Seq[Long], bandShards: Seq[Long])

  /** APPEND a batch into a persisted [[buildFuzzyIndex]] index —
    * closing the incremental-ingest loop (r6 verdict: the index was
    * build-once, so two duplicate docs arriving in different
    * post-build batches both survived every probe). The batch is
    * signed ONCE (one localCheckpointed signing job) with the index's
    * OWN parameters from `meta/` — a build/append mismatch is
    * impossible by construction and `meta/` is never rewritten — then
    * its (id, hs, sig) rows append to `sets/` and its band rows to
    * `bands/`, each touching only the shards the batch lands in
    * (asserted in StreamingSpec).
    *
    * Cap contract (the drift vs build): [[buildFuzzyIndex]] drops an
    * over-cap bucket WHOLE at build time; an append SATURATES instead
    * ([[IndexTable#appendCapped]]) — batch band rows whose bucket
    * would exceed `maxBucketSize` are withheld, existing members stay
    * probe-able. The difference from a fresh rebuild is only WHICH
    * members of a boilerplate bucket are indexed (first-arrived keep
    * their slots). Saturated docs remain fully probe-able as batch
    * members and keep their `sets/` rows (future verification side);
    * they are just not candidate-generators for that one bucket.
    *
    * Re-running the same append (a replayed foreachBatch) duplicates
    * index rows; the probe's dup DECISION is idempotent to that
    * (candidate pairs are `.distinct()`ed and survivor sets are id
    * anti-joins), at the cost of redundant verification rows — exactly
    * once is the stream checkpoint's job, not the layout's.
    *
    * CRASH WINDOW (two writes, spec-pinned in FunctionsSpec): `sets/`
    * and `bands/` are separate jobs — a crash between them leaves the
    * batch verifiable but not candidate-generating. A half-applied
    * batch cannot flip any probe decision: absent from `bands/` its
    * docs are never candidates, and their orphan `sets/` rows are
    * verification payload for candidates that don't exist. Recovery is
    * therefore RE-RUN THE SAME INTAKE STEP (what a stream-checkpoint
    * replay does anyway) — the probe's same-id filter (see
    * [[intakeStepAgainstExactIndex]]'s crash-recovery note) keeps the
    * replayed batch from deduping against its own partial rows, and
    * the re-run's full append restores the candidate/verification
    * invariant, converging on the never-crashed decisions. */
  def appendToFuzzyIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String)
      : FuzzyAppendReport = {
    val m = fuzzyIndexMeta(spark, path)
    // one signing job; both table writes consume the checkpoint blocks
    val base =
      minHashBaseFromArrays(shingleHashArrays(batch, idCol, textCol, m.shingleN), m.k)
        .withColumn("__idshard", idShard(col("id"), m.nShards))
        .localCheckpoint()
    val setsRows = base.count()
    if (setsRows == 0L) FuzzyAppendReport(0L, 0L, 0L, Nil, Nil)
    else {
      fuzzySets(path).write(base, org.apache.spark.sql.SaveMode.Append)
      val nb = lshBandRows(base.select("id", "hs", "sig"), m.k, m.bands)
        .withColumn("__shard", bucketShard(m.nShards))
        .localCheckpoint()
      val appended = bandsTable(path).appendCapped(spark, nb, m.maxBucketSize)
      val bandRows = appended.count()
      FuzzyAppendReport(setsRows, bandRows, nb.count() - bandRows,
        IndexTable.shards(base, col("__idshard")),
        IndexTable.shards(appended, col("__shard")))
    }
  }

  /** One incremental-intake step against a persisted fuzzy index,
    * FIRST-WINS over arrival order: (1) within-batch fuzzy dedup —
    * [[minHashDupPairs]]-shaped pairs under the index's OWN meta
    * parameters, lowest id per dup cluster survives; (2) the
    * within-batch survivors probe the index ([[probeFuzzyIndex]]) and
    * docs with a near-dup already IN the corpus are dropped; (3) the
    * accepted remainder is APPENDED to the index
    * ([[appendToFuzzyIndex]]) so the NEXT batch dedups against it.
    * Returns the accepted batch rows (materialized via the append's
    * signing job — callers write them where they belong).
    *
    * With id order == arrival order and transitively-closed dup
    * groups, a sequence of these steps ends exactly where one-shot
    * [[minHashDupPairs]] + [[clusterSurvivors]] over the concatenated
    * corpus ends (asserted in StreamingSpec) — the state lives in the
    * lake, so "the whole history" never has to fit in a batch. */
  def intakeStepAgainstFuzzyIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val m = fuzzyIndexMeta(spark, path)
    val inBatchPairs = minHashDupPairs(batch, idCol, textCol,
      m.shingleN, m.k, m.bands, threshold, m.maxBucketSize)
    val batchSurvivors = clusterSurvivors(batch, idCol, inBatchPairs)
    // checkpoint the accepted set ONCE: its lineage (probe anti-join)
    // would otherwise re-execute for the append's signing job and
    // again when the caller writes the result
    val accepted = incrementalFuzzySurvivors(
      spark, path, batchSurvivors, idCol, textCol, threshold).localCheckpoint()
    appendToFuzzyIndex(spark, path, accepted, idCol, textCol)
    accepted
  }

  /** MinHash dup pairs with SIGNATURE-ESTIMATED verification: instead
    * of exact Jaccard over the shingle sets, each candidate pair is
    * scored by the fraction of agreeing signature slots (the unbiased
    * MinHash estimate of Jaccard, codegen'd
    * [[graft.functions.SlotMatches]]). The at-100-TB trade: the
    * verification joins carry k longs per document instead of the full
    * shingle set (often 100× larger), at the cost of ±1/sqrt(k)
    * estimate noise — use [[minHashDupPairs]] when survivors must be
    * exact-verified, this when the corpus is too big to re-ship
    * shingles. Output: (id_a, id_b, est_jaccard), est >= threshold. */
  def minHashDupPairsEstimated(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 8,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    val base = minHashBaseFromArrays(shingleHashArrays(df, idCol, textCol, shingleN), k)
    val pairs = lshCandidatePairs(base, k, bands, maxBucketSize)
    val sigs = base.select(col("id"), col("sig"))
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("__sa")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("__sb")), "id_b")
      .withColumn("est_jaccard",
        graft.functions.SlotMatches.column(col("__sa"), col("__sb"))
          .cast("double") / k)
      .where(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Accuracy audit of the signature-estimated Jaccard against the
    * exact shingle-set Jaccard on the SAME LSH candidate pairs — the
    * fuzzy tier's counterpart of [[IvfAnn.recallAtK]]: choosing
    * between [[minHashDupPairs]] (exact verify) and
    * [[minHashDupPairsEstimated]] (signature verify, no shingle
    * re-ship) should be a measured decision, and this measures it on
    * the corpus's OWN candidate distribution rather than the
    * theoretical ±1/sqrt(k) bound ([[Sampling.SketchAccuracy]]).
    *
    * One row per unfiltered candidate pair:
    * (id_a, id_b, est_ppm, exact_ppm, err_ppm) — slot counts and set
    * sizes are integers, so every value is a floored integer-ppm
    * division and the audit artifact is hash-exact on any engine.
    * Cost: one signing scan + the banded candidate join, shingle sets
    * shipped only for candidate rows (the x03 shape) — the audit is
    * the exact-verify pass plus one codegen'd slot count. */
  def minHashAccuracyAudit(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 8,
      maxBucketSize: Int = 1000): DataFrame = {
    val base = minHashBaseFromArrays(
      shingleHashArrays(df, idCol, textCol, shingleN), k)
    val pairs = lshCandidatePairs(base, k, bands, maxBucketSize)
    pairs
      .join(base.select(col("id").as("id_a"), col("sig").as("__sa"),
        col("hs").as("hs_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("sig").as("__sb"),
        col("hs").as("hs_b")), "id_b")
      .withColumn("__slots",
        graft.functions.SlotMatches.column(col("__sa"), col("__sb"))
          .cast("long"))
      .withColumn("__inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("__union",
        size(col("hs_a")).cast("long") + size(col("hs_b")).cast("long")
          - col("__inter"))
      .select(col("id_a"), col("id_b"),
        expr(s"(__slots * CAST(1000000 AS BIGINT)) DIV CAST($k AS BIGINT)")
          .as("est_ppm"),
        expr("(__inter * CAST(1000000 AS BIGINT)) DIV __union")
          .as("exact_ppm"))
      .withColumn("err_ppm", col("est_ppm") - col("exact_ppm"))
  }

  /** Candidate-generation RECALL of the LSH banding, per exact-Jaccard
    * band — the other loss the fuzzy tier can suffer: [[
    * minHashAccuracyAudit]] measures how well surfaced pairs are
    * SCORED; this measures which true pairs are surfaced AT ALL (a
    * pair landing in no shared bucket is invisible to every
    * downstream stage). Ground truth is the all-pairs exact Jaccard
    * of the input — deliberately quadratic, so CALLERS PASS A BOUNDED
    * SAMPLE (hundreds of docs), never a corpus; the banding runs on
    * the same sample, making the measurement self-contained.
    *
    * Output: one row per 0.1-wide Jaccard band ≥ `minJaccardPpm`:
    * (band_ppm, n_pairs, n_caught, catch_ppm) — the measured S-curve
    * of the (k, bands) configuration on the corpus's own similarity
    * distribution, which is what the "is bands=16 enough at
    * threshold 0.8" decision actually needs. All values are integer
    * counts and floored integer-ppm divisions: hash-exact. */
  def lshBandingRecall(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 8,
      minJaccardPpm: Long = 100000L, maxBucketSize: Int = 1000): DataFrame = {
    val base = minHashBaseFromArrays(
      shingleHashArrays(df, idCol, textCol, shingleN), k)
    val sets = base.select(col("id"), col("hs"))
    val truth = sets.as("a").join(sets.as("b"), col("a.id") < col("b.id"))
      .withColumn("__inter",
        size(array_intersect(col("a.hs"), col("b.hs"))).cast("long"))
      .withColumn("__union",
        size(col("a.hs")).cast("long") + size(col("b.hs")).cast("long")
          - col("__inter"))
      .withColumn("jac_ppm",
        expr("(__inter * CAST(1000000 AS BIGINT)) DIV __union"))
      .where(col("jac_ppm") >= minJaccardPpm)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("jac_ppm"))
    val cand = lshCandidatePairs(base, k, bands, maxBucketSize)
      .withColumn("__caught", lit(1L))
    truth.join(cand, Seq("id_a", "id_b"), "left")
      .withColumn("band_ppm",
        expr("(jac_ppm DIV CAST(100000 AS BIGINT)) * CAST(100000 AS BIGINT)"))
      .groupBy("band_ppm")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("__caught"), lit(0L))).as("n_caught"))
      .withColumn("catch_ppm",
        expr("(n_caught * CAST(1000000 AS BIGINT)) DIV n_pairs"))
  }

  /** |A∩B| / |A∪B| from a precomputed intersection size — callers
    * compute the intersection ONCE and reuse it (array_intersect is
    * the expensive half of Jaccard; never evaluate it twice). */
  def jaccardFromIntersect(inter: Column, sizeA: Column, sizeB: Column): Column = {
    val union = sizeA + sizeB - inter
    when(union > 0, inter.cast("double") / union.cast("double")).otherwise(lit(0.0))
  }

  /** Exact Jaccard similarity of two (already-distinct) arrays.
    * Convenience form; hot paths use [[jaccardFromIntersect]]. */
  def arrayJaccard(a: Column, b: Column): Column =
    jaccardFromIntersect(size(array_intersect(a, b)), size(a), size(b))

  // -------------------------------------------------------------- simhash

  /** How many bits a SimHash fingerprint carries: the portable md5-60
    * token hash provides 60 usable bits. */
  val simHashBits = 60

  /** 60-bit SimHash per id, as 60 codegen'd sum-aggregates over token
    * hashes (per-bit majority vote): explode tokens -> hash once
    * (portable md5-60, so the fingerprints are externally replayable)
    * -> sum(bit_b ? +1 : -1) for each bit -> fold into one int64.
    * Output: (id, fp). */
  def simHashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = Rebalance(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        explode(split(TextAnalysis.normalizeText(col("__text")), " ")).as("t"))
      .where(col("t") =!= "")
      .select(col("id"), graft.functions.PortableHash.md5Hash60(col("t")).as("h"))
    val votes = hashed.groupBy("id").agg(
      sum(shiftright(col("h"), 0).bitwiseAND(lit(1L)) * 2L - 1L).as("v0"),
      (1 until simHashBits).map(b =>
        sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2L - 1L).as(s"v$b")): _*)
    val fp = (0 until simHashBits).map { b =>
      shiftleft(when(col(s"v$b") > 0, lit(1L)).otherwise(lit(0L)), b)
    }.reduce(_.bitwiseOR(_))
    votes.select(col("id"), fp.as("fp"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on 15-bit quarters of the 60-bit
    * fingerprint (any pair within hamming distance 3 shares at least
    * one intact quarter — pigeonhole), then verify the distance. */
  def simHashDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fp = simHashes(df, idCol, textCol)
    val blocked = fp.select(col("id"), col("fp"),
      explode(array((0 until 4).map(q =>
        struct(lit(q).as("q"),
          shiftright(col("fp"), q * 15).bitwiseAND(lit(0x7FFFL)).as("qk"))): _*)).as("b"))
      .select(col("id"), col("fp"), col("b.q").as("q"), col("b.qk").as("qk"))
    blocked.as("l").join(blocked.as("r"),
        col("l.q") === col("r.q") && col("l.qk") === col("r.qk") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        hamming(col("l.fp"), col("r.fp")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  // -------------------------------------------- n-gram Jaccard (blocked)

  /** Exact n-gram Jaccard duplicate pairs under an explicit blocking
    * predicate (e.g. same language + close length). Deterministic and
    * SQL-expressible, so it doubles as the oracle-checkable variant of
    * fuzzy dedup. The blocking predicate bounds the pair count; at
    * scale, swap in [[minHashDupPairs]] whose banding is data-driven.
    *
    * Shingle sets are the HASHED form ([[graft.functions
    * .ShingleHashes]], one codegen'd pass — the string-shingle
    * `transform(sequence...)` HOF ran interpreted): the 60-bit hash
    * makes distinct string shingles and distinct hash values agree up
    * to birthday collisions — ~n²/2^61 expected per document pair, so
    * exact at test scale and collision-negligible at corpus scale
    * (at 10^9 distinct grams, ~0.4 colliding pairs corpus-WIDE) —
    * so intersection / union counts, and therefore every emitted
    * jaccard, match the string form statistically exactly, while the
    * pair join ships 8-byte longs instead of shingle strings. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, blockOn: Seq[String]): DataFrame = {
    val base = Rebalance(df.select(
        (col(idCol).as("id") +: col(textCol).as("__text") +: blockOn.map(col)): _*))
      .withColumn("sh", graft.functions.ShingleHashes.column(col("__text"), n))
      .where(size(col("sh")) > 0)
      .select((col("id") +: col("sh") +: blockOn.map(col)): _*)
    val l = base.as("l"); val r = base.as("r")
    val blockCond = blockOn.map(c => col(s"l.$c") === col(s"r.$c"))
      .foldLeft(col("l.id") < col("r.id"))(_ && _)
    l.join(r, blockCond)
      .withColumn("__inter", size(array_intersect(col("l.sh"), col("r.sh"))))
      .withColumn("jaccard", jaccardFromIntersect(
        col("__inter"), size(col("l.sh")), size(col("r.sh"))))
      .where(col("jaccard") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("jaccard"))
  }

  /** Shingle-CONTAINMENT pairs — doc-in-doc detection, the asymmetric
    * cousin of [[ngramJaccardPairs]]: `C(A,B) = |S(A) ∩ S(B)| / |S(A)|`
    * flags a document whose shingle set is (nearly) swallowed by a
    * larger one — quotes, mirrored excerpts, boilerplate-wrapped
    * copies — which symmetric Jaccard misses whenever the container is
    * much bigger than the contained (the union term dilutes it).
    * Pairs are oriented smaller-set → larger-set (ties broken by id),
    * so each containment relation is emitted exactly once, and the
    * blocking predicate bounds the pair fan-out exactly as in the
    * Jaccard form. Output: (contained_id, container_id, n_shared,
    * n_contained, containment), containment >= threshold — the integer
    * evidence pair is emitted alongside the ratio because a small-int
    * division can land exactly on a decimal rounding tie where engines
    * disagree; hash-checked consumers should prefer the ints. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, blockOn: Seq[String]): DataFrame = {
    // hashed ShingleHashes sets (see ngramJaccardPairs): counts, and
    // thus every output column, are unchanged vs string shingles;
    // the pair join ships 8-byte longs instead of shingle strings
    val base = Rebalance(df.select(
        (col(idCol).as("id") +: col(textCol).as("__text") +: blockOn.map(col)): _*))
      .withColumn("sh", graft.functions.ShingleHashes.column(col("__text"), n))
      .where(size(col("sh")) > 0)
      .withColumn("__sz", size(col("sh")))
      .select((col("id") +: col("sh") +: col("__sz") +: blockOn.map(col)): _*)
    val l = base.as("l"); val r = base.as("r")
    // strict weak order on (set size, id): every unordered pair joins
    // in exactly one orientation, with the smaller set on the left
    val sizeOrder = col("l.__sz") < col("r.__sz") ||
      (col("l.__sz") === col("r.__sz") && col("l.id") < col("r.id"))
    val blockCond = blockOn.map(c => col(s"l.$c") === col(s"r.$c"))
      .foldLeft(sizeOrder)(_ && _)
    l.join(r, blockCond)
      .withColumn("n_shared", size(array_intersect(col("l.sh"), col("r.sh"))))
      .withColumn("containment",
        col("n_shared").cast("double") / col("l.__sz").cast("double"))
      .where(col("containment") >= threshold)
      .select(col("l.id").as("contained_id"), col("r.id").as("container_id"),
        col("n_shared"), col("l.__sz").as("n_contained"), col("containment"))
  }

  // ------------------------------------------------- semantic (SemDeDup)

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023):
    * cluster the embedding space, then compare pairs ONLY within a
    * cluster — the clustering is the blocking structure, exactly as
    * LSH bands are for MinHash, so pair fan-out is bounded by cell
    * population instead of |corpus|². Cell assignment is the same
    * deterministic integer quantizer the IVF index uses
    * ([[IvfAnn.cellIdInt]], codegen'd argmin) — a map-only scan —
    * and within-cell verification is full-precision cosine with
    * per-row precomputed norms.
    *
    * Cells larger than `maxCellSize` (embedding-space boilerplate:
    * near-identical template docs collapsing into one cell) are
    * dropped from pairing by a cheap count pre-filter rather than
    * quadratically joined — same degenerate-bucket policy as the LSH
    * path, applied BEFORE any pair materializes. At 100 TB: one
    * map-only assignment scan, one count aggregate, one equi-join on
    * cell id; the only quadratic term is per-cell and capped.
    *
    * Output: (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold. */
  def semanticDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[IvfAnn.IntCentroid], threshold: Double,
      maxCellSize: Int = 100000): DataFrame = {
    // NOTE (r17 ABBA A/B): localCheckpointing this assignment to share
    // it between the cell-size gate and the self-join sides measured
    // FLAT at sf0.1 (raw ~0.96×, inside the noise band) — the join's
    // two sides are identical subtrees whose exchange AQE already
    // reuses, so the checkpoint only converts the remaining recompute
    // into a stage barrier plus vector-payload storage (the x03
    // persisted-base lesson). Deliberately recomputed; revisit if
    // nlist grows to where cellIdInt dominates the scan.
    val assigned = Rebalance(corpus.select(col(idCol).as("id"), col(vecCol).as("__v")))
      .withColumn("__cell", IvfAnn.cellIdInt(col("__v"), cents))
      .withColumn("__n", Similarity.norm(col("__v")))
    val okCells = assigned.groupBy("__cell")
      .agg(count(lit(1)).as("__cnt"))
      .where(col("__cnt") <= maxCellSize)
      .select("__cell")
    val bounded = assigned.join(broadcast(okCells), Seq("__cell"))
    val l = bounded.as("l"); val r = bounded.as("r")
    l.join(r, col("l.__cell") === col("r.__cell") && col("l.id") < col("r.id"))
      .withColumn("cosine", Similarity.cosineWithNorms(
        col("l.__v"), col("r.__v"), col("l.__n"), col("r.__n")))
      .where(col("cosine") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("cosine"))
  }

  /** Train/test n-gram contamination (the GPT-3-style decontamination
    * check, stricter than [[crossCorpusOverlap]]'s whole-document
    * match): any length-n token shingle shared between a test document
    * and a training document flags the pair, with the shared-shingle
    * count as evidence strength. Shingle hashes (portable md5-60) are
    * exploded and equi-joined — at 100 TB this shuffles 8-byte keys
    * (never text), the train side can be pre-bucketed on the hash, and
    * the quadratic text join never happens. Output:
    * (test_id, train_id, n_shared) over DISTINCT shingles. */
  def ngramContamination(test: DataFrame, testId: String,
      train: DataFrame, trainId: String, textCol: String, n: Int): DataFrame = {
    val t = shingleHashArrays(test, testId, textCol, n)
      .select(col("id").as("test_id"), explode(col("hs")).as("s"))
    val tr = shingleHashArrays(train, trainId, textCol, n)
      .select(col("id").as("train_id"), explode(col("hs")).as("s"))
    t.join(tr, "s")
      .where(col("test_id") =!= col("train_id"))
      .groupBy("test_id", "train_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-EVAL-doc contamination report — the audit view of
    * [[ngramContamination]] (x23's pair relation): for every eval
    * doc, its own distinct shingle count, how many corpus docs share
    * at least one shingle, the WORST overlap as floored ppm of the
    * eval doc's grams (containment — "how much of this benchmark item
    * is in the training set"), and the corpus doc achieving it (ties
    * to the lowest id). Eval docs with NO overlap still appear (0
    * hits, 0 ppm, null worst doc) — absence of evidence is a row.
    * Decontamination (the funnel's stage 5) DROPS on any shared
    * shingle; this measures what would drop and how badly — the
    * ship/no-ship call on an eval suite, per item.
    *
    * Ids sharing a value across the two frames are treated as the
    * same document and excluded (the holdout-slice convention,
    * inherited from [[ngramContamination]]). Scale shape: the pair
    * relation's shingle equi-join (longs, never text), one hash agg
    * per eval doc — eval suites are thousands of rows, so every
    * output is eval-sized. */
  def contaminationReport(corpus: DataFrame, idCol: String, textCol: String,
      eval: DataFrame, evalId: String, evalText: String,
      n: Int = 5): DataFrame = {
    val evalGrams = shingleHashArrays(
        eval.select(col(evalId).as("__eid"), col(evalText).as("__text")),
        "__eid", "__text", n)
      .select(col("id").as("eval_id"), size(col("hs")).cast("long").as("n_grams"))
    val ov = ngramContamination(
      eval.select(col(evalId).as("__eid"), col(evalText).as("__text")), "__eid",
      corpus.select(col(idCol).as("__cid"), col(textCol).as("__text")), "__cid",
      "__text", n)
    val agg = ov.groupBy(col("test_id").as("eval_id"))
      .agg(count(lit(1)).as("n_hit_docs"),
        max(struct(col("n_shared"), (-col("train_id")).as("__neg"))).as("__w"))
    evalGrams.join(agg, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_grams"),
        coalesce(col("n_hit_docs"), lit(0L)).as("n_hit_docs"),
        expr("(coalesce(__w.n_shared, CAST(0 AS BIGINT))" +
          " * CAST(1000000 AS BIGINT)) DIV n_grams").as("worst_ppm"),
        (-col("__w.__neg")).as("worst_doc"))
  }

  /** CROSS-SOURCE DUPLICATION MATRIX — the provenance view of any
    * duplicate-pair relation: how many near-dup pairs connect each
    * (source, source) combination. The matrix is the diagnostic that
    * catches a mirrored crawl (two sources feeding each other's
    * content), a source that is mostly internal boilerplate (heavy
    * diagonal), or a licensing exposure (pairs bridging a restricted
    * source into an open one) — the first question a corpus owner
    * asks once a dedup tier reports pair counts.
    *
    * Tier-agnostic: `pairs` is any `(id_a, id_b)` relation
    * ([[minHashDupPairs]], [[simHashDupPairs]], [[embeddingDupPairs]],
    * [[ngramJaccardPairs]]). Source pairs are emitted UNORDERED
    * (lexicographic least/greatest), so A→B and B→A collapse into one
    * cell. Scale shape: two equi-joins of the bounded pair relation
    * against an (id, source) projection — the label side is
    * corpus-sized but two columns wide; the aggregate output is
    * ≤ |sources|² rows. */
  def crossSourceDupMatrix(pairs: DataFrame, docs: DataFrame,
      idCol: String, sourceCol: String): DataFrame = {
    val lab = docs.select(col(idCol), col(sourceCol))
    pairs.select("id_a", "id_b")
      .join(lab.select(col(idCol).as("id_a"), col(sourceCol).as("__sa")),
        Seq("id_a"))
      .join(lab.select(col(idCol).as("id_b"), col(sourceCol).as("__sb")),
        Seq("id_b"))
      .select(least(col("__sa"), col("__sb")).as("src_a"),
        greatest(col("__sa"), col("__sb")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
  }

  // --------------------------------------------- pair -> cluster -> survivor

  /** Connected components over duplicate pairs by iterative min-label
    * propagation WITH pointer jumping: every node starts labeled with
    * itself; each round, labels flow across edges (one hop) AND each
    * node adopts its label's label (pointer jump), keeping the
    * minimum. The jump halves remaining label-chain depth, so
    * convergence is O(log diameter) rounds instead of O(diameter) —
    * `maxIterations = 15` covers components of diameter ~2^15, not 15
    * (a silent-under-convergence trap for long duplicate chains, e.g.
    * a→b→c… similarity cascades). Fixpoint = each component labeled
    * with its smallest id (the survivor). Output: (id, label).
    *
    * Scale shape: each round is two equi-joins + one min-aggregate —
    * all shuffles key on node ids. The loop is driver-side CONTROL
    * only (an MLlib-style iteration) — data never leaves the cluster;
    * `localCheckpoint` per round truncates lineage so plans don't grow
    * unboundedly. */
  /** DUP-FAMILY SIZE DISTRIBUTION — the "how much of the corpus lives
    * in big families" monitor: [[dupClusters]] labels, family sizes as
    * one hash agg over the labels, then a histogram bucketed by the
    * size's BIT LENGTH (`length(bin(size))` = floor(log2)+1 — an exact
    * integer log bucket, no double `log2` whose ulp at exact powers
    * could flip a bucket between engines). Output: (size_bits,
    * n_families, n_docs) — log₂-many rows at any corpus size; only
    * docs that appear in a pair are counted (a family is size ≥ 2 by
    * construction). A fat tail here is the "one boilerplate family
    * holds 1% of the corpus" smell that motivates [[stripFrequentChunks]]
    * and the x72 diversity cap. */
  def familySizeHistogram(pairs: DataFrame, maxIterations: Int = 15): DataFrame =
    dupClusters(pairs, maxIterations)
      .groupBy("label").agg(count(lit(1)).as("size"))
      .groupBy(length(bin(col("size"))).cast("long").as("size_bits"))
      .agg(count(lit(1)).as("n_families"), sum(col("size")).as("n_docs"))

  def dupClusters(pairs: DataFrame, maxIterations: Int = 15): DataFrame = {
    val edges = pairs.select(col("id_a"), col("id_b"))
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    var labels = edges.select(col("id_a").as("id")).distinct()
      .withColumn("label", col("id"))
    // each eager checkpoint fully materializes the round, so the
    // PREVIOUS round's blocks are dead the moment the new one exists —
    // free them here instead of letting rounds accumulate in executor
    // storage; only the final table (which the result depends on)
    // outlives the loop.
    var prev: Option[DataFrame] = None
    var changed = true
    var iter = 0
    while (changed && iter < maxIterations) {
      val viaEdges = labels.join(edges, col("id") === col("id_a"))
        .select(col("id_b").as("id"), col("label"))
      // pointer jump: my label's current label (label table is total
      // over component nodes, so the join never drops rows)
      val viaJump = labels.as("l")
        .join(labels.select(col("id").as("label"), col("label").as("ll")), "label")
        .select(col("id"), col("ll").as("label"))
      val propagated = viaEdges.unionByName(labels).unionByName(viaJump)
        .groupBy("id").agg(min("label").as("new_label"))
      val next = labels.select(col("id"), col("label").as("old_label"))
        .join(propagated, "id")
        .select(col("id"), col("new_label").as("label"),
          (col("new_label") < col("old_label")).as("__moved"))
        .localCheckpoint()
      changed = next.where(col("__moved")).limit(1).count() > 0
      prev.foreach(freeCheckpoint)
      prev = Some(next)
      labels = next.drop("__moved")
      iter += 1
    }
    labels
  }

  /** Near-dup pairs over integer fingerprints via Hamming-LSH — the
    * shared engine under audio loudness fingerprints and image
    * perceptual hashes: split each `(media_id, sig)` signature into
    * `bands` bands of `bandBits` bits; signatures within Hamming
    * distance h agree on ≥ bands − h bands, so every near-dup pair
    * co-buckets somewhere. Candidates ride the SAME bounded-bucket
    * machinery as MinHash LSH ([[graft.functions.CappedIds]] +
    * in-row [[graft.functions.SortedPairs]] — never all-pairs), then
    * the exact distance (`bit_count(xor)`) verifies. Work is
    * bands × bucket² with buckets capped; the shuffle carries
    * (band, bucket, id) ints, never payloads. */
  def hammingNearDupPairs(sigs: DataFrame, bands: Int, bandBits: Int,
      maxBucketSize: Int = 64, maxHamming: Int = 2): DataFrame = {
    val mask = (1L << bandBits) - 1
    val bandRows = sigs
      .select(col("media_id"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sig"))
      .select(col("media_id"), col("band"),
        expr(s"shiftright(sig, CAST(band * $bandBits AS INT)) & $mask")
          .as("bucket"))
    val pairs = bandRows.groupBy("band", "bucket")
      .agg(graft.functions.CappedIds.column(col("media_id"), maxBucketSize)
        .as("__ids"))
      .where(size(col("__ids")).between(2, maxBucketSize))
      .select(explode(graft.functions.SortedPairs.column(col("__ids")))
        .as("__p"))
      .select(col("__p.id_a"), col("__p.id_b"))
      .distinct()
    pairs
      .join(sigs.select(col("media_id").as("id_a"), col("sig").as("__sa")),
        Seq("id_a"))
      .join(sigs.select(col("media_id").as("id_b"), col("sig").as("__sb")),
        Seq("id_b"))
      .withColumn("hamming",
        expr("CAST(bit_count(__sa ^ __sb) AS BIGINT)"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ------------------------- persisted Hamming fingerprint index

  /** Parameters a [[buildHammingIndex]] run was built with, read back
    * from the index's own `meta/` so a build/probe mismatch
    * (different banding silently yielding zero matches) is impossible
    * by construction — the [[FuzzyIndexMeta]] contract for the
    * fingerprint tier. */
  final case class HammingIndexMeta(bands: Int, bandBits: Int,
      nShards: Int, maxBucketSize: Int)

  /** Read the meta table of a persisted Hamming index (cached per path,
    * [[IndexTable]]'s META rule). */
  def hammingIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): HammingIndexMeta = {
    val r = metaRow(spark, path)
    HammingIndexMeta(r.getAs[Int]("bands"), r.getAs[Int]("band_bits"),
      r.getAs[Int]("n_shards"), r.getAs[Int]("max_bucket"))
  }

  /** The `sigs/` table of a [[buildHammingIndex]] layout. */
  private def hammingSigs(path: String) =
    IndexTable(s"$path/sigs", "__idshard", s"$path/meta", "sigs_ddl")

  /** The (band, bucket) shard of the Hamming `bands/` table. */
  private def hammingBucketShard(nShards: Int): Column =
    pmod(xxhash64(col("band"), col("bucket")), lit(nShards.toLong))

  /** `(media_id, sig)` with both cast to BIGINT. */
  private def longSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("media_id").cast("long").as("media_id"),
      col("sig").cast("long").as("sig"))

  private def hammingBandRows(sigs: DataFrame, bands: Int,
      bandBits: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    sigs.select(col("media_id"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sig"))
      .select(col("media_id"), col("band"),
        expr(s"shiftright(sig, CAST(band * $bandBits AS INT)) & $mask")
          .as("bucket"))
  }

  /** Persist a fingerprint corpus as a probeable Hamming index: the
    * `(media_id, sig)` relation lands id-shard-partitioned under
    * `sigs/` (the exact-verify source), its band rows bucket-shard-
    * partitioned under `bands/` (degenerate over-cap buckets dropped
    * at build, [[IndexTable.dropOverCap]]), and the parameters under
    * `meta/`. Incremental media intake then probes batches against
    * ALL history without rescanning payloads — the fingerprint tier of
    * the persisted-index family (exact digests, MinHash sets, IVF
    * cells, PQ codes... and now perceptual/loudness hashes). */
  def buildHammingIndex(sigs: DataFrame, path: String, bands: Int = 8,
      bandBits: Int = 8, nShards: Int = 64,
      maxBucketSize: Int = 1000): Unit = {
    val spark = sigs.sparkSession
    val sigsT = hammingSigs(path)
    val sigRows = longSigs(sigs)
      .withColumn("__idshard", idShard(col("media_id"), nShards))
    sigsT.write(sigRows, org.apache.spark.sql.SaveMode.Overwrite)
    val bandRows = IndexTable.dropOverCap(
        hammingBandRows(sigsT.readAll(spark), bands, bandBits), maxBucketSize)
      .withColumn("__shard", hammingBucketShard(nShards))
    bandsTable(path).write(bandRows, org.apache.spark.sql.SaveMode.Overwrite)
    IndexTable.writeMeta(spark.range(1).select(lit(bands).as("bands"),
        lit(bandBits).as("band_bits"), lit(nShards).as("n_shards"),
        lit(maxBucketSize).as("max_bucket"),
        sigsT.ddl(sigRows), bandsTable(path).ddl(bandRows)),
      s"$path/meta")
  }

  /** Probe a [[buildHammingIndex]] index with a batch of
    * fingerprints: `(in_id, corpus_id, hamming <= maxHamming)` pairs
    * between batch and corpus, WITHOUT rescanning media. The batch's
    * band rows equi-join the persisted `bands/`, read pruned to the
    * batch's bucket shards, and the candidates' id shards likewise
    * prune `sigs/` ([[IndexTable]]'s PRUNE rule) — probe I/O is
    * proportional to the batch's own bucket spread, never the
    * corpus. */
  def probeHammingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batchSigs: DataFrame, maxHamming: Int = 2): DataFrame = {
    val m = hammingIndexMeta(spark, path)
    val batch = longSigs(batchSigs)
    val nb = hammingBandRows(batch, m.bands, m.bandBits)
      .withColumn("__shard", hammingBucketShard(m.nShards))
    val cand = nb.select(col("media_id").as("in_id"),
        col("band"), col("bucket"))
      .join(bandsTable(path).readFor(spark, nb, col("__shard"))
        .select(col("media_id").as("corpus_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("in_id") =!= col("corpus_id"))
      .select("in_id", "corpus_id").distinct()
    cand
      .join(batch.select(col("media_id").as("in_id"), col("sig").as("__sa")),
        Seq("in_id"))
      .join(hammingSigs(path)
        .readFor(spark, cand, idShard(col("corpus_id"), m.nShards))
        .select(col("media_id").as("corpus_id"), col("sig").as("__sb")),
        Seq("corpus_id"))
      .withColumn("hamming",
        expr("CAST(bit_count(__sa ^ __sb) AS BIGINT)"))
      .where(col("hamming") <= maxHamming)
      .select(col("in_id"), col("corpus_id"), col("hamming"))
  }

  /** Grow a Hamming index in place: append the batch's sigs and band
    * rows, withholding band rows whose bucket would exceed the build's
    * cap COUNTING existing membership ([[IndexTable#appendCapped]], the
    * [[appendToFuzzyIndex]] rule). Returns (sig rows appended, band
    * rows dropped as over-cap). Grown index == one-shot build over
    * the concatenated corpus, up to the cap tie cases, and the probe
    * verifies exactly either way. */
  def appendToHammingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batchSigs: DataFrame): (Long, Long) = {
    val m = hammingIndexMeta(spark, path)
    val base = longSigs(batchSigs)
      .withColumn("__idshard", idShard(col("media_id"), m.nShards))
      .localCheckpoint()
    val n = base.count()
    if (n == 0L) (0L, 0L)
    else {
      hammingSigs(path).write(base, org.apache.spark.sql.SaveMode.Append)
      val nb = hammingBandRows(base.select("media_id", "sig"), m.bands, m.bandBits)
        .withColumn("__shard", hammingBucketShard(m.nShards))
        .localCheckpoint()
      (n, nb.count() -
        bandsTable(path).appendCapped(spark, nb, m.maxBucketSize).count())
    }
  }

  /** One incremental media-intake step against a persisted Hamming
    * index, FIRST-WINS over arrival order: (1) drop batch items with
    * a fingerprint near-dup already IN the index (probe under static
    * shard pruning); (2) within-batch near-dup collapse (min-id
    * survivor per component); (3) append the survivors — the index
    * afterwards contains every admitted fingerprint. Creates the
    * index on first use (within-batch dedup still applies). Returns
    * (survivor sigs, n dropped as already-indexed, n dropped
    * within-batch).
    *
    * Contract: no admitted item has a Hamming-≤`maxHamming` neighbor
    * that was admitted before it. Like every LSH intake, CHAINS can
    * diverge from a one-shot dedup of the concatenated corpus (A
    * admitted, B~A dropped, C~B but ≁A admitted — a one-shot pass
    * clusters {A,B,C} to one survivor); for pair-disjoint corpora the
    * two agree exactly (spec-pinned). */
  def hammingIntakeStep(spark: org.apache.spark.sql.SparkSession,
      batchSigs: DataFrame, path: String, bands: Int = 8,
      bandBits: Int = 8, maxHamming: Int = 2)
      : (DataFrame, Long, Long) = {
    val sigs = longSigs(batchSigs)
    val metaExists = {
      val p = new org.apache.hadoop.fs.Path(s"$path/meta")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val n = sigs.count()
    val fresh = if (metaExists) {
      // re-delivery screen first: an id already IN the index is
      // dropped on identity (the probe excludes self-id pairs, so
      // without this a redelivered item would re-append); the read
      // prunes to the batch's own id shards
      val seenIds = hammingSigs(path)
        .readFor(spark, sigs,
          idShard(col("media_id"), hammingIndexMeta(spark, path).nShards))
        .select("media_id")
      val unseen = sigs.join(seenIds, Seq("media_id"), "left_anti")
      val matched = probeHammingIndex(spark, path, unseen, maxHamming)
        .select(col("in_id").as("media_id")).distinct()
      unseen.join(matched, Seq("media_id"), "left_anti")
    } else sigs
    val nFresh = fresh.count()
    val survivors = clusterSurvivors(fresh, "media_id",
      hammingNearDupPairs(fresh, bands, bandBits,
        maxHamming = maxHamming))
    val nSurv = survivors.count()
    // an empty FIRST batch does not create the index: the build reads
    // its sigs/ back, and an empty write leaves no schema to infer
    // before meta/ exists. The next non-empty batch founds it
    if (metaExists) appendToHammingIndex(spark, path, survivors)
    else if (nSurv > 0) buildHammingIndex(survivors, path, bands, bandBits)
    (survivors, n - nFresh, nFresh - nSurv)
  }

  /** Retention/takedown on the fingerprint tier: delete ids from a
    * Hamming index by rewriting ONLY the shards they live in — id
    * shards of `sigs/` directly, and the band shards the doomed ids'
    * own STORED signatures band to ([[IndexTable]]'s TAKEDOWN rule,
    * located as in [[deleteFromFuzzyIndex]]). Near-copies of deleted
    * media are admitted by later probes; copies of still-indexed media
    * keep matching. */
  def deleteFromHammingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String)
      : Map[String, IndexDeleteReport] = {
    val m = hammingIndexMeta(spark, path)
    val doomed = ids.select(col(idCol).cast("long").as("media_id")).distinct()
    val sigs = hammingSigs(path)
    val idShards = IndexTable.shards(doomed, idShard(col("media_id"), m.nShards))
    // collected before the sigs/ rewrite below replaces them
    val bandShards = IndexTable.shards(
      hammingBandRows(sigs.read(spark, idShards)
        .join(doomed, Seq("media_id"), "left_semi"), m.bands, m.bandBits),
      hammingBucketShard(m.nShards))
    Map("sigs" -> sigs.takedown(spark, idShards)(
        _.join(doomed, Seq("media_id"), "left_anti")),
      "bands" -> bandsTable(path).takedown(spark, bandShards)(
        _.join(doomed, Seq("media_id"), "left_anti")))
  }

  /** Survivors after fuzzy dedup: every id in `df` keeps itself unless
    * it belongs to a dup cluster and is not the cluster's minimum. */
  def clusterSurvivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val labels = dupClusters(pairs)
    df.join(labels.where(col("label") =!= col("id"))
        .select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Canonical-VERSION selection: per dup family, keep the most
    * COMPLETE member instead of the first-seen one. First-wins
    * ([[clusterSurvivors]], the growing-index intakes) is the right
    * rule for incremental arrival order, but a batch re-curation can
    * do better: near-duplicate web captures of the same page differ in
    * truncation, and the longest capture is usually the best training
    * document. Survivor = max `scoreCol` (e.g. char count or a quality
    * score), ties broken by MINIMUM id — fully deterministic.
    *
    * Every row of `df` appears in exactly one output family: ids in no
    * pair are their own singleton (label = id, n_members = 1). NULL
    * scores rank below every non-null score (a family of only-null
    * scores falls back to pure min-id).
    *
    * Scale shape: [[dupClusters]] runs over the pair-bounded edge set
    * only; the corpus joins the (id, label) frame on its id (one
    * shuffle of two narrow columns — text never ships) and the pick is
    * a single hash aggregate carrying (score, id) per row with
    * map-side combine. No window, no global sort.
    * Output: (label, survivor_id, n_members). */
  def bestSurvivorPerCluster(df: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame = {
    val labels = dupClusters(pairs)
    val member = df
      .join(labels, df(idCol) === labels("id"), "left")
      .select(coalesce(col("label"), df(idCol)).as("label"),
        df(idCol).as("__id"),
        coalesce(df(scoreCol).cast("double"),
          lit(Double.NegativeInfinity)).as("__score"))
    member.groupBy("label")
      .agg(
        max(struct(col("__score").as("s"), (-col("__id")).as("neg_id"))).as("__pick"),
        count(lit(1)).as("n_members"))
      .select(col("label"),
        (-col("__pick.neg_id")).as("survivor_id"),
        col("n_members"))
  }

  // ---------------------------------------------- chunk-level dedup (C4)

  /** Corpus-level DUPLICATED-CHUNK removal — the C4 line-dedup rule at
    * token-chunk granularity (no line boundaries survive tokenized
    * text): split every document into non-overlapping `chunkTokens`
    * windows ([[TextAnalysis.chunkDocs]] with stride == chunkTokens),
    * keep each distinct chunk's FIRST occurrence (minimum
    * (doc_id, chunk_idx) across the corpus), drop every other
    * occurrence, and reassemble the surviving chunks in document
    * order. Unlike [[exactSurvivors]] (whole-document) or
    * [[graft.operators.TextAnalysis.boilerplateRate]] (scoring only),
    * this REWRITES documents — repeated passages (licence blocks,
    * navigation text, quoted headers) vanish from all but one doc.
    *
    * Shape at 100 TB: chunking is map-only fan-out; the first-
    * occurrence pick is a min-of-struct hash agg on the 32-char chunk
    * md5 (map-side combine — the q06 lesson; never a window over the
    * corpus), the keep is a semi-join on (fp, doc_id, chunk_idx), and
    * reassembly aggregates each doc's own surviving chunks (per-group
    * state is bounded by the document's own size, exactly the input
    * row's bound). Shuffles carry digests + chunk offsets, plus each
    * chunk's text once for the rebuild.
    *
    * Documents whose chunks are ALL duplicates disappear from the
    * output (nothing survives to reassemble); zero-token documents are
    * absent as in chunkDocs. Ids must be unique (the framework-wide
    * precondition). Output: (doc_id, n_chunks_kept, text_deduped) with
    * text_deduped the space-joined surviving chunks in chunk order —
    * normalized text, as chunkDocs emits. */
  def dedupChunksKeepFirst(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    // NOTE (r17 A/B): checkpointing the chunk fan-out to share it
    // between the first-occurrence aggregate and the keep join measured
    // FLAT at sf0.1 (1.036 vs 1.102 s min-of-5, control-adjusted ~1.0)
    // — the stored rows carry chunk_text payloads, so materialization
    // costs what the second tokenize pass costs; recompute keeps
    // executor storage flat (the x03 persisted-base lesson applies:
    // payload-carrying bases don't pay). Deliberately recomputed.
    val chunks = TextAnalysis.chunkDocs(df, idCol, textCol,
        chunkTokens, stride = chunkTokens)
      .withColumn("__fp", md5(col("chunk_text")))
    val first = chunks.groupBy("__fp")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("__w"))
      .select(col("__fp"), col("__w.doc_id").as("doc_id"),
        col("__w.chunk_idx").as("chunk_idx"))
    chunks.join(first, Seq("__fp", "doc_id", "chunk_idx"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
          s => s.getField("chunk_text"))).as("text_deduped"))
  }

  /** Corpus-level FREQUENT-CHUNK strip — the C4 boilerplate rule's
    * other half: where [[dedupChunksKeepFirst]] keeps each duplicated
    * chunk's first occurrence, this removes EVERY occurrence of a
    * chunk whose document frequency exceeds `maxDf` (licence blocks,
    * cookie banners, navigation text — content so common that no copy
    * of it belongs in training data, including the "first" one).
    * Frequency is DISTINCT-document frequency, not occurrence count: a
    * chunk repeated within one document is that document's own style,
    * not corpus boilerplate.
    *
    * Shape at 100 TB, same skeleton as [[dedupChunksKeepFirst]]:
    * map-only chunk fan-out, the df count is a hash agg over (fp,
    * doc_id) distinct pairs (map-side combine on the 32-char md5), the
    * over-threshold set joins back as an anti-join (unhinted — AQE
    * broadcasts when the boilerplate set is small, which it is by
    * definition of "frequent": high-df chunks are FEW distinct
    * values), and reassembly is bounded per doc. Documents whose
    * every chunk is boilerplate disappear from the output. Output:
    * (doc_id, n_chunks_kept, text_stripped), normalized text. */
  def stripFrequentChunks(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, maxDf: Long): DataFrame = {
    require(maxDf >= 1, s"stripFrequentChunks: maxDf must be >= 1, got $maxDf")
    val chunks = TextAnalysis.chunkDocs(df, idCol, textCol,
        chunkTokens, stride = chunkTokens)
      .withColumn("__fp", md5(col("chunk_text")))
    val frequent = chunks.select(col("__fp"), col("doc_id")).distinct()
      .groupBy("__fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDf)
      .select("__fp")
    chunks.join(frequent, Seq("__fp"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
          s => s.getField("chunk_text"))).as("text_stripped"))
  }

  /** EXACT-SUBSTRING SPAN DEDUP — the Lee et al. 2021 rule ("Deduplicating
    * Training Data Makes Language Models Better": remove any ≥N-token
    * substring that appears more than once in the corpus, keeping one
    * copy) re-expressed as distributed gram counting instead of a
    * suffix array. This is the finest tier of the dedup granularity
    * ladder: whole-doc (x01) → chunk (x44) → line (x81) → span (here),
    * and the only one that catches a copied paragraph embedded in
    * otherwise-novel documents.
    *
    * Semantics (in normalized token space — lowercase `[a-z0-9]` runs,
    * the canonical tokenizer every text tier shares):
    *  1. every n-token span is keyed by its positioned gram hash
    *     ([[graft.functions.PositionedGramHashes]] — one codegen pass,
    *     no token-row explosion);
    *  2. a gram occurring ≥2 times corpus-wide (within-doc repeats
    *     count) is duplicated; its KEEPER is the minimal (id, pos)
    *     occurrence — deterministic, rerun-idempotent;
    *  3. every non-keeper occurrence marks tokens [pos, pos+n-1] for
    *     removal; overlapping marks union (no island bookkeeping — the
    *     removal SET is the contract);
    *  4. each document is rewritten with its marked tokens dropped
    *     ([[graft.functions.PruneIndices]] — one merge walk, not an
    *     O(|toks|·|rm|) interpreted lambda). A keeper's own tokens can
    *     still fall to an overlapping marked span — the published
    *     method has the same property (removal may split the copy it
    *     keeps); what is guaranteed is that no duplicated n-gram
    *     survives twice un-overlapped.
    *
    * Output: (id, text, n_tokens, n_removed) — text is the rewritten
    * normalized token stream (space-joined), NULL for null input text,
    * "" for token-free docs; docs shorter than n tokens pass through
    * unmarked (no n-span exists; whole-short-doc dups are x01's job).
    *
    * Scale shape: two map-only scans of the corpus — ONE gram fan-out
    * (localCheckpointed: the keeper aggregate and the marked join both
    * consume it, and Catalyst does not share the two subtrees; the
    * stored rows are three longs, never text — measured 0.84× at r17)
    * plus the rewrite scan; one
    * gram-hash aggregate with map-side combine (8-byte keys); the
    * duplicated tail joins back UNHINTED (AQE broadcasts when small —
    * duplication is the tail, not the vocabulary — and degrades to a
    * shuffled hash join at web scale instead of an OOM); marked spans
    * explode ×n then distinct on (id, idx) longs; per-doc removal
    * arrays are bounded by the document's own token count, the same
    * bounded-reassembly contract as x44. No corpus window, no global
    * sort, no suffix array. */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, s"stripDuplicateSpans: n must be >= 1, got $n")
    val base = Rebalance(df.select(col(idCol).as("id"), col(textCol).as("__text")))
    // localCheckpoint the positioned-gram fan-out: the keeper aggregate
    // and the marked join both consume it, and Catalyst does not share
    // the two subtrees — unchecked, the corpus is scanned, tokenized
    // and re-grammed twice (measured plan: 2× Scan+Generate at r17
    // baseline). Rows are three longs — the light proxy, not the text.
    val occ = spanOccurrences(base, n)
      .localCheckpoint(eager = false)
    val keepers = occ.groupBy("g")
      .agg(count(lit(1)).as("__cnt"), min(struct(col("id"), col("pos"))).as("__keep"))
      .where(col("__cnt") >= 2)
      .select(col("g"), col("__keep"))
    val marked = occ.join(keepers, Seq("g"))
      .where(!(col("id") === col("__keep.id") && col("pos") === col("__keep.pos")))
      .select(col("id"), col("pos"))
    rewriteDropSpans(base, marked, n, idCol)
  }

  /** The positioned-gram fan-out of the span tier: one row per
    * (doc, start position), keyed by the gram hash. Map-only. */
  private def spanOccurrences(base: DataFrame, n: Int): DataFrame =
    base.select(col("id"),
      posexplode(graft.functions.PositionedGramHashes.column(col("__text"), n))
        .as(Seq("pos", "g")))

  /** The rewrite stage of the span tier: union marked [pos, pos+n)
    * spans into a per-doc removal SET (distinct on (id, idx) longs),
    * then drop those token indexes in one codegen'd merge walk.
    * Per-doc state is bounded by the document's own token count —
    * the x44 bounded-reassembly contract. */
  private def rewriteDropSpans(base: DataFrame, marked: DataFrame,
      n: Int, idCol: String): DataFrame = {
    val removed = marked
      .select(col("id"), explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("__i"))
      .select(col("id"), col("__i").cast("long").as("idx"))
      .distinct()
      .groupBy("id")
      .agg(sort_array(collect_set(col("idx"))).as("__rm"))
    val toks = base.select(col("id"),
      array_remove(split(trim(regexp_replace(lower(col("__text")),
        "[^a-z0-9]+", " ")), " "), "").as("__toks"))
    toks.join(removed, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("__toks").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ", graft.functions.PruneIndices.column(
            col("__toks"),
            coalesce(col("__rm"), array().cast("array<long>"))))).as("text"),
        when(col("__toks").isNull, lit(0L))
          .otherwise(size(col("__toks")).cast("long")).as("n_tokens"),
        when(col("__rm").isNull, lit(0L))
          .otherwise(size(col("__rm")).cast("long")).as("n_removed"))
  }

  // ------------------------------------------------- growing span index

  /** (nShards, gramN) of a [[buildSpanIndex]] layout. */
  private def spanIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int) = {
    val r = metaRow(spark, path)
    (r.getAs[Int]("n_shards"), r.getAs[Int]("gram_n"))
  }

  /** The `grams/` table of a [[buildSpanIndex]] layout. */
  private def gramsTable(path: String) =
    IndexTable(s"$path/grams", "__shard", s"$path/meta", "grams_ddl")

  private def gramShard(nShards: Int): Column =
    pmod(xxhash64(col("g")), lit(nShards.toLong))

  /** PERSIST the span tier's growing state: the DISTINCT gram-hash
    * set of the corpus, shard-partitioned by gram hash, plus the
    * founding doc id of each gram (`owner` — needed only for the
    * crash-replay rule, below). Membership is the WHOLE state: a gram
    * seen in any earlier batch means its keeper is already settled,
    * so later occurrences cut unconditionally; counts are never
    * needed (within-batch multiplicity is the batch's own job). That
    * is why sequential intake equals the one-shot
    * [[stripDuplicateSpans]] bit-for-bit when batches arrive in id
    * order — keeping a batch-min occurrence never depends on whether
    * more copies arrive later (the keeper is kept either way), and
    * cutting applies only to occurrences whose keeper is already
    * fixed. The x46/x50 growing-tier algebra, at span granularity. */
  def buildSpanIndex(corpus: DataFrame, idCol: String, textCol: String,
      n: Int, path: String, nShards: Int = 64): Unit = {
    val grams = gramsTable(path)
    val rows = spanOccurrences(
        corpus.select(col(idCol).as("id"), col(textCol).as("__text")), n)
      .groupBy("g").agg(min(col("id")).as("owner"))
      .withColumn("__shard", gramShard(nShards))
    grams.write(rows, org.apache.spark.sql.SaveMode.Overwrite)
    IndexTable.writeMeta(corpus.sparkSession.range(1).select(
        lit(nShards).as("n_shards"), lit(n).as("gram_n"), grams.ddl(rows)),
      grams.metaDir)
  }

  /** One incremental SPAN-intake step, first-wins: rewrite the batch
    * with every span occurrence cut whose keeper is already settled —
    * in the index (a membership probe pruned to the shards the batch's
    * own grams hash to, [[IndexTable]]'s PRUNE rule) or earlier in
    * the batch (the within-batch min-(id,pos) rule of
    * [[stripDuplicateSpans]]) — then append the batch's NEW grams to
    * the state and return the rewritten docs
    * (id, text, n_tokens, n_removed), checkpointed so the probe never
    * re-executes over the appended state.
    *
    * CRASH RECOVERY (mirrors [[intakeStepAgainstExactIndex]]): the
    * probe ignores index grams whose `owner` is one of the batch's own
    * ids — ids are corpus-unique by the framework precondition, so a
    * same-owner hit can only be this batch's earlier crashed append —
    * making a replay of the SAME step converge to the never-crashed
    * rewrite. Re-appended gram rows duplicate membership; membership
    * is insensitive to duplication. */
  def intakeStepAgainstSpanIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (nShards, n) = spanIndexMeta(spark, path)
    val base = Rebalance(batch.select(col(idCol).as("id"), col(textCol).as("__text")))
    val occ = spanOccurrences(base, n)
    val batchGrams = occ.groupBy("g").agg(min(col("id")).as("owner"))
      .withColumn("__shard", gramShard(nShards))
    val idx = gramsTable(path).readFor(spark, batchGrams, col("__shard"))
    val batchIds = base.select(col("id").as("__bid")).distinct()
    val hits = idx.select("g", "owner")
      .join(batchIds, col("owner") === col("__bid"), "left_anti")
      .select("g").distinct()
    val keepers = occ.groupBy("g")
      .agg(count(lit(1)).as("__cnt"), min(struct(col("id"), col("pos"))).as("__keep"))
    val marked = occ.join(keepers, Seq("g"))
      .join(hits.withColumn("__hit", lit(true)), Seq("g"), "left")
      .where(col("__hit").isNotNull ||
        (col("__cnt") >= 2 &&
          !(col("id") === col("__keep.id") && col("pos") === col("__keep.pos"))))
      .select(col("id"), col("pos"))
    val out =
      rewriteDropSpans(base, marked, n, idCol).localCheckpoint()
    gramsTable(path).write(batchGrams.join(hits, Seq("g"), "left_anti"),
      org.apache.spark.sql.SaveMode.Append)
    out
  }

  /** SURGICAL DECONTAMINATION — the rewrite alternative to the
    * drop-based eval tier ([[ngramContamination]] / the funnel's
    * stage 5): instead of discarding every training doc that shares
    * an n-gram with the eval suite, cut ONLY the shared spans and
    * keep the rest of the document. The drop rule costs an entire
    * doc per stray quotation; this keeps the novel 99% of a doc that
    * happens to quote one benchmark item — the standard practice for
    * high-value corpora where eval overlap is incidental, not
    * wholesale.
    *
    * Marks every corpus occurrence of any n-token span present in
    * `eval` and rewrites via the span machinery (removal-set union,
    * merge-walk prune). Eval items shorter than n tokens contribute
    * no spans — sub-n contamination remains the drop tier's job (its
    * padded-shingle rule covers short docs). Scale shape: the eval
    * gram set is eval-sized (suites are thousands of rows), so the
    * semi-join broadcasts; one gram fan-out scan + one rewrite scan
    * of the corpus; per-doc state bounded by the doc's own size.
    * Output: (id, text, n_tokens, n_removed) — every corpus doc
    * appears, clean docs untouched. */
  def stripEvalSpans(corpus: DataFrame, idCol: String, textCol: String,
      eval: DataFrame, evalText: String, n: Int = 8): DataFrame = {
    require(n >= 1, s"stripEvalSpans: n must be >= 1, got $n")
    val base = Rebalance(corpus.select(col(idCol).as("id"), col(textCol).as("__text")))
    val evalGrams = eval
      .select(explode(graft.functions.PositionedGramHashes.column(
        col(evalText), n)).as("g"))
      .distinct()
    val marked = spanOccurrences(base, n)
      .join(evalGrams, Seq("g"), "left_semi")
      .select(col("id"), col("pos"))
    rewriteDropSpans(base, marked, n, idCol)
  }

  /** TAKEDOWN from a [[buildSpanIndex]] layout: remove the gram rows
    * a removed doc FOUNDED (`owner` = the doc). Membership semantics
    * make this exactly right: every non-keeper occurrence of a span
    * was CUT from its doc's rewrite, so once the founder is removed
    * no surviving rewritten doc contains the span — a future copy is
    * correctly ADMITTED. Spans the removed doc merely repeated keep
    * their (retained) founder and stay blocked. Needs the doc's TEXT
    * (like [[deleteFromExactIndex]]): the doc's own grams locate the
    * shards, and every row it founded lives in one of them — the
    * rewrite touches only those shards ([[IndexTable]]'s TAKEDOWN
    * rule). */
  def deleteFromSpanIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, idCol: String, textCol: String)
      : IndexDeleteReport = {
    val (nShards, n) = spanIndexMeta(spark, path)
    val doomed = docs.select(col(idCol).cast("long").as("__did")).distinct()
    val targets = Rebalance(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
    gramsTable(path).takedown(spark,
        IndexTable.shards(spanOccurrences(targets, n), gramShard(nShards)))(
      _.join(doomed, col("owner") === col("__did"), "left_anti"))
  }

  // ------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-duplicate pairs above `threshold`, blocked
    * by sign-LSH buckets from [[Similarity.hyperplaneBucket]]. Norms
    * are computed once per row before the pair join (one vector pass
    * per pair instead of three). */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.95, planes: Int = 8): DataFrame = {
    val withBucket = Rebalance(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("bucket", Similarity.hyperplaneBucket(col("v"), dim, planes))
      .withColumn("nrm", Similarity.norm(col("v")))
    withBucket.as("l").join(withBucket.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .withColumn("cosine", Similarity.cosineWithNorms(
        col("l.v"), col("r.v"), col("l.nrm"), col("r.nrm")))
      .where(col("cosine") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("cosine"))
  }
}
