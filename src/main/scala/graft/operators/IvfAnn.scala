package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: partition the
  * corpus into `nlist` Voronoi cells around KMeans centroids, then
  * answer queries by scanning only the `nprobe` closest cells.
  *
  * Scale shape (the path brute force can't take at 100 TB):
  *  - TRAIN on a bounded sample (`fit` over `sampleFraction` of the
  *    corpus) — the only non-distributed artifact is the centroid
  *    matrix, `nlist × dim` doubles, which is broadcast as a literal;
  *  - ASSIGN is a map-only scan (argmin over centroid distances, all
  *    column algebra) — at scale this materializes as a partitioned
  *    parquet write, i.e. the "index" (an [[IndexTable]]);
  *  - SEARCH explodes each query into its `nprobe` cells and
  *    equi-joins on cell id, so the candidate scan is
  *    `nprobe/nlist` of the corpus per query instead of all of it.
  */
object IvfAnn {

  /** Train centroids with ml KMeans on a corpus sample. Returns the
    * centroid matrix (tiny, driver-side by construction). */
  def trainCentroids(corpus: DataFrame, vecCol: String, nlist: Int,
      seed: Long = 42L, sampleFraction: Double = 1.0): Array[Array[Double]] = {
    val sample = if (sampleFraction >= 1.0) corpus else
      corpus.sample(withReplacement = false, sampleFraction, seed)
    val train = sample.select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(20).fit(train)
    model.clusterCenters.map(_.toArray)
  }

  /** Nearest-centroid cell id (argmin of squared double distance, ties
    * to the lower cell id) — the codegen'd
    * [[graft.functions.NearestCellsDouble]] expression: one
    * nlist × dim primitive loop per row instead of nlist interpreted
    * `aggregate(zip_with(...))` folds. */
  def cellId(vec: Column, centroids: Array[Array[Double]]): Column =
    element_at(
      graft.functions.NearestCells.nearestDoubleCol(vec, centroids, 1), 1)

  /** The `nprobe` nearest cell ids for a query vector, as an array. */
  def probeCells(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    graft.functions.NearestCells.nearestDoubleCol(vec, centroids, nprobe)

  /** End-to-end IVF top-k search: assign corpus rows to cells once,
    * explode queries into their probe cells, equi-join on cell, exact
    * cosine within candidates, rank per query. */
  def topK(corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      centroids: Array[Array[Double]], k: Int, nprobe: Int): DataFrame =
    searchAssigned(
      Rebalance(corpus.select(col(corpusId), col(corpusVec)))
        .withColumn("__cell", cellId(col(corpusVec), centroids)),
      queries.withColumn("__cell",
        explode(probeCells(col(queryVec), centroids, nprobe))),
      corpusId, corpusVec, queryId, queryVec, k)

  /** Shared search tail: corpus and queries both carry a `__cell`
    * column; equi-join on it, exact cosine within candidates, then the
    * bounded [[Similarity.rankTopK]] aggregate (map-side k-slot
    * combine — losers never shuffle). */
  private def searchAssigned(c0: DataFrame, q0: DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val c = c0.withColumn("__cn", Similarity.norm(col(corpusVec)))
    val q = q0.withColumn("__qn", Similarity.norm(col(queryVec)))
    val joined = c.join(broadcast(q), Seq("__cell"))
      .where(col(queryId) =!= col(corpusId))
      .withColumn("cosine", Similarity.cosineWithNorms(
        col(queryVec), col(corpusVec), col("__qn"), col("__cn")))
    Similarity.rankTopK(joined, queryId, corpusId, k)
  }

  // ------------------------------- deterministic integer quantizer path

  /** Integer centroid of one cell: the per-dimension ROUNDED mean
    * `c_d = floor(s_d/n + 0.5)` of the 1e3-quantized member vectors.
    * Rounding once at build time keeps every distance term
    * `(q_d - c_d)^2` bounded by the quantized value range (~1e3 for
    * unit-range vectors), so the 64-bit accumulator cannot overflow at
    * ANY cell size — an (s, n) representation would overflow the
    * per-term product `n*q_d` for cells beyond a few hundred thousand
    * members. The float division is one IEEE double op, identical on
    * every engine. */
  final case class IntCentroid(cell: Int, c: Array[Long])

  /** Quantized vector: floor(x * 1e3) per component. Coarse (3
    * decimals) is plenty for cell ASSIGNMENT — final ranking always
    * uses full-precision cosine — and keeps the distance arithmetic
    * comfortably inside int64. (The per-row search path quantizes
    * inside [[graft.functions.NearestCells]]; this column form feeds
    * the centroid BUILD aggregation only.) */
  private def quantize3(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1000.0)).cast("long"))

  /** Deterministic coarse quantizer ("seed group" centroids): cell
    * seeds are `pmod(id, nlist)`; each centroid is the EXACT integer
    * sum-pair (s, n) of its seed group from [[quantize3]] vectors.
    *
    * Why not KMeans here: iterative training gives better cells but an
    * engine-opaque model. The seed-group centroid is a pure function
    * of the data — any engine replays it bit-for-bit, so the whole IVF
    * path (assignment, probing, final ranking) is oracle-checkable.
    * Scale shape: one groupBy shuffle of nlist*dim longs; the returned
    * model is tiny (nlist x dim) and inlined as literals. */
  def seedCentroidsInt(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int): Array[IntCentroid] = {
    val rows = corpus
      .select(pmod(col(idCol), lit(nlist)).cast("int").as("cell"),
        posexplode(quantize3(col(vecCol))).as(Seq("pos", "qv")))
      .groupBy("cell", "pos")
      .agg(sum("qv").as("s"), count(lit(1)).as("n"))
      .collect()
    require(rows.nonEmpty,
      "seedCentroidsInt: corpus has no rows with a non-empty vector")
    val dim = rows.iterator.map(_.getInt(1)).max + 1
    rows.groupBy(_.getInt(0)).toArray.sortBy(_._1).map { case (cell, rs) =>
      val c = new Array[Long](dim)
      rs.foreach { r =>
        c(r.getInt(1)) = math.floor(r.getLong(2).toDouble / r.getLong(3) + 0.5).toLong
      }
      IntCentroid(cell, c)
    }
  }

  /** Nearest-centroid cell over the integer model: argmin of exact
    * integer distance `sum((floor(x*1e3) - c_d)^2)`, ties to the lower
    * cell id — the codegen'd [[graft.functions.NearestCellsInt]]
    * expression (every distance term bounded by the quantized value
    * range squared, so the long accumulator is overflow-safe at any
    * corpus size — the point of rounding the centroid at build time). */
  def cellIdInt(vec: Column, cents: Array[IntCentroid]): Column =
    element_at(
      graft.functions.NearestCells.nearestIntCol(
        vec, cents.map(_.c), cents.map(_.cell), 1), 1)

  /** The `nprobe` nearest cells under the integer model, as an array. */
  def probeCellsInt(vec: Column, cents: Array[IntCentroid], nprobe: Int): Column =
    graft.functions.NearestCells.nearestIntCol(
      vec, cents.map(_.c), cents.map(_.cell), nprobe)

  /** IVF top-k over the deterministic integer quantizer — same search
    * shape as [[topK]], every stage replayable by an external oracle. */
  def topKInt(corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      cents: Array[IntCentroid], k: Int, nprobe: Int): DataFrame =
    searchAssigned(
      Rebalance(corpus.select(col(corpusId), col(corpusVec)))
        .withColumn("__cell", cellIdInt(col(corpusVec), cents)),
      queries.withColumn("__cell",
        explode(probeCellsInt(col(queryVec), cents, nprobe))),
      corpusId, corpusVec, queryId, queryVec, k)

  // ----------------------------------------------- persisted index path

  /** Build the PERSISTED IVF index: one map-only pass assigns every
    * corpus row its cell and precomputes its norm, written as an
    * [[IndexTable]] at `path` partitioned by `__cell`. This is the
    * 100 TB shape: the index build is a single scan, and a search that
    * probes `nprobe` of `nlist` cells READS only those partitions —
    * the corpus is never rescanned per query batch ([[topKInt]]
    * assigns at query time; use it when the corpus is not worth
    * indexing). */
  def buildIndexInt(corpus: DataFrame, corpusId: String, corpusVec: String,
      cents: Array[IntCentroid], path: String): Unit = {
    val rows = Rebalance(corpus.select(col(corpusId), col(corpusVec)))
      .withColumn("__cell", cellIdInt(col(corpusVec), cents))
      .withColumn("__cn", Similarity.norm(col(corpusVec)))
    cellTable(path).write(rows, org.apache.spark.sql.SaveMode.Overwrite)
    writeCentroids(corpus.sparkSession, cents, cellTable(path).ddl(rows), path)
  }

  /** The cell table of a [[buildIndexInt]] or
    * [[Pq.buildIndexIvfPq]] layout: the data sits at `path` itself, and
    * `_centroids/` is its meta. */
  private[operators] def cellTable(path: String) =
    IndexTable(path, "__cell", s"$path/_centroids", "data_ddl")

  /** The frozen centroid model, persisted INSIDE the index layout at
    * `_centroids/` (the underscore prefix hides it from the data
    * read, like `_SUCCESS`) with the cell table's `ddl` on every row —
    * written AFTER the data overwrite so a rebuild replaces both
    * atomically-enough for the quiesce rule. Self-describing layout =
    * probe/append callers cannot pair the index with the wrong model,
    * the same mismatch-impossible property the fuzzy index gets from
    * `meta/`. */
  private[operators] def writeCentroids(spark: org.apache.spark.sql.SparkSession,
      cents: Array[IntCentroid], ddl: Column, path: String): Unit = {
    import spark.implicits._
    IndexTable.writeMeta(cents.toSeq.map(c => (c.cell, c.c.toSeq))
      .toDF("cell", "c").select(col("cell"), col("c"), ddl),
      s"$path/_centroids")
  }

  /** Read the frozen centroid model back from a [[buildIndexInt]]
    * layout (cached per path — nlist × dim longs, model-sized). */
  def loadCentroidsInt(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[IntCentroid] =
    IndexTable.meta(spark, s"$path/_centroids")
      .map(r => IntCentroid(r.getAs[Int]("cell"), r.getSeq[Long](1).toArray))
      .sortBy(_.cell)

  /** Drop the in-process cache entry so the next [[loadCentroidsInt]]
    * re-reads the layout (test/maintenance hook — proves on-disk
    * state rather than cache state). */
  private[graft] def invalidateCentroidCache(path: String): Unit =
    IndexTable.forget(s"$path/_centroids")

  /** TAKEDOWN from a [[buildIndexInt]] layout — the ANN-tier sibling
    * of [[graft.operators.Dedup.deleteFromExactIndex]]: remove the
    * given vectors' rows so a removed document stops surfacing as
    * anyone's neighbor (retention/licensing). Takes the docs (id +
    * vector): with the FROZEN build centroids the cell is a pure
    * function of the vector, so the doomed rows are located without
    * scanning the index — only the cells the removed vectors live in
    * are rewritten ([[IndexTable]]'s TAKEDOWN rule). Searches under
    * the same pinned centroids are unaffected outside the touched
    * cells (spec compares file listings). */
  def deleteFromIndexInt(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, corpusId: String, corpusVec: String,
      cents: Array[IntCentroid]): Dedup.IndexDeleteReport = {
    val targets = docs.select(col(corpusId).as("__did"),
      cellIdInt(col(corpusVec), cents).as("__cell"))
    val doomed = targets.select(col("__did").as(corpusId)).distinct()
    cellTable(path).takedown(spark, IndexTable.shards(targets, col("__cell")))(
      _.join(doomed, Seq(corpusId), "left_anti"))
  }

  /** APPEND a batch of vectors into a persisted [[buildIndexInt]]
    * index — the incremental-ingest twin of
    * [[graft.operators.Dedup.appendToFuzzyIndex]]. Same map-only
    * assign+norm pass as the build, appended: only the `__cell`
    * partitions the batch lands in gain files.
    *
    * Drift contract (the knob this operator deliberately does NOT
    * turn): `cents` is the FROZEN build-time model — assignment is a
    * pure function of (vector, centroids), so an appended index is
    * bit-identical to a fresh [[buildIndexInt]] over the concatenated
    * corpus under the same centroids (asserted in FunctionsSpec), and
    * every [[searchIndexInt]] stays correct w.r.t. those centroids.
    * What freezing costs is cell BALANCE, not correctness: if the
    * appended distribution drifts from the build corpus, new vectors
    * crowd into few cells and probe I/O for them degrades toward a
    * scan of those cells. Monitor `spark.read.parquet(path)
    * .groupBy("__cell").count()` skew and REBUILD (new centroids,
    * fresh build) when the max/median cell ratio crosses the caller's
    * tolerance — re-centering in place would silently invalidate the
    * pinned-centroid equivalence that makes the index replayable. */
  def appendToIndexInt(batch: DataFrame, corpusId: String, corpusVec: String,
      cents: Array[IntCentroid], path: String): Unit =
    cellTable(path).write(Rebalance(batch.select(col(corpusId), col(corpusVec)))
      .withColumn("__cell", cellIdInt(col(corpusVec), cents))
      .withColumn("__cn", Similarity.norm(col(corpusVec))),
      org.apache.spark.sql.SaveMode.Append)

  /** Search a [[buildIndexInt]] index: queries explode into their
    * probe cells and equi-join on the PARTITION column, so the index
    * scan reads only the probed cells — I/O is `~nprobe/nlist` of the
    * index ([[IndexTable]]'s PRUNE rule over the distinct probe
    * cells, asserted in the spec), and norms come precomputed from the
    * build pass. Requires the session default
    * `partitionColumnTypeInference` (the `__cell` dirs must read back
    * as ints). */
  def searchIndexInt(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      cents: Array[IntCentroid], k: Int, nprobe: Int): DataFrame = {
    val q = queries
      .withColumn("__cell", explode(probeCellsInt(col(queryVec), cents, nprobe)))
      .withColumn("__qn", Similarity.norm(col(queryVec)))
    val idx = cellTable(path).readFor(spark, q, col("__cell"))
    val joined = idx.join(broadcast(q), Seq("__cell"))
      .where(col(queryId) =!= col(corpusId))
      .withColumn("cosine", Similarity.cosineWithNorms(
        col(queryVec), col(corpusVec), col("__qn"), col("__cn")))
    Similarity.rankTopK(joined, queryId, corpusId, k)
  }

  // ------------------------------------------- index quality monitoring

  /** Per-cell population profile of an IVF assignment — the
    * observability half of the frozen-centroid drift contract
    * ([[appendToIndexInt]]: "monitor per-cell counts, rebuild when
    * drift crosses tolerance"). One map-only assign pass + one hash
    * agg; the share is integer ppm (floored via integer division), so
    * the audit artifact is hash-exact on any engine at any layout.
    * Output: (cell, n_vectors, share_ppm); run it over the raw corpus
    * before a build, or over a persisted layout's own rows to watch a
    * grown index drift from the build-time balance. */
  def cellProfile(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[IntCentroid]): DataFrame = {
    val counts = corpus
      .select(cellIdInt(col(vecCol), cents).cast("long").as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
    val total = counts.agg(sum("n_vectors").as("__total"))
    counts.crossJoin(broadcast(total))
      .select(col("cell"), col("n_vectors"),
        expr("(n_vectors * CAST(1000000 AS BIGINT)) DIV __total")
          .as("share_ppm"))
  }

  /** DIVERSITY SAMPLE (cluster-balanced corpus cap, the D4/SemDeDup
    * companion): keep at most `perCell` vectors per IVF cell, selected
    * by the smallest 52-bit md5 draws within the cell — so a semantic
    * cluster with a million near-identical members contributes the
    * same mass to the sample as a cluster of a thousand distinct ones,
    * while under-cap tail clusters pass whole. The deduped-but-skewed
    * corpus problem: dedup removes COPIES, not redundancy — topical
    * mass survives it; this caps mass per semantic region.
    *
    * Scale shape: cell assignment is the map-only codegen'd
    * [[cellIdInt]] (the model rides along as literals, no join), and
    * the cap is [[Sampling.quotaCapPerGroup]]'s k-bounded TopKPairs
    * aggregate — the shuffle carries at most `perCell` ids per
    * (cell, task), never the cell's population (the x38 argument, with
    * the cell as the group). Selection is engine-replayable: uniform
    * within the cell, deterministic under rerun/layout/growth (ids
    * hash, positions don't). Returns the surviving corpus rows plus
    * their `cell` column. */
  def diversitySample(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[IntCentroid], perCell: Int): DataFrame = {
    require(perCell > 0, s"diversitySample: perCell must be > 0, got $perCell")
    Sampling.quotaCapPerGroup(
      corpus.withColumn("cell", cellIdInt(col(vecCol), cents)),
      "cell", idCol, perCell)
  }

  /** PROBE-COVERAGE CURVE — the auto-tuning half of the x61/x62
    * monitoring pair (r9 verdict item 7: nprobe=2 was a documented
    * but silently-default lossy config). For every candidate nprobe
    * p, the total corpus mass held by the queries' p nearest cells,
    * as a share of (|Q| × |corpus|) in floored integer ppm — i.e. the
    * expected fraction of candidate mass a p-probe search scans.
    *
    * Mass coverage is a CONSERVATIVE recall proxy: true neighbors
    * concentrate in a query's nearest cells, so measured recall@k
    * sits well ABOVE the mass share (x62 measured 0.31 recall at
    * 2/16 ≈ 0.125 mass; FunctionsSpec asserts the ordering) — a
    * coverage target therefore acts as a recall floor in practice.
    *
    * Cost: one assign pass over `corpus` (or none — see
    * [[probeCoverageIndexed]]), one ranked-cells pass over the query
    * SAMPLE, a broadcast join against the nlist-row profile, and an
    * nlist-row cumulative window. Exact integers end to end
    * (DECIMAL(38,0) numerator — nq·nc·1e6 passes BIGINT at corpus
    * scale). Output: (nprobe, covered_ppm) for nprobe = 1..nlist. */
  def probeCoverage(corpus: DataFrame, corpusVec: String,
      queries: DataFrame, queryVec: String,
      cents: Array[IntCentroid]): DataFrame = {
    val counts = corpus
      .select(cellIdInt(col(corpusVec), cents).cast("long").as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("__n"))
    probeCoverageFromCounts(counts, queries, queryVec, cents)
  }

  /** [[probeCoverage]] against a persisted [[buildIndexInt]] layout —
    * no assign pass: the stored `__cell` column IS the assignment. */
  def probeCoverageIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, queryVec: String): DataFrame = {
    val cents = loadCentroidsInt(spark, path)
    val counts = cellTable(path).readAll(spark)
      .select(col("__cell").cast("long").as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("__n"))
    probeCoverageFromCounts(counts, queries, queryVec, cents)
  }

  private def probeCoverageFromCounts(counts: DataFrame,
      queries: DataFrame, queryVec: String,
      cents: Array[IntCentroid]): DataFrame = {
    val ranked = queries
      .select(posexplode(
        probeCellsInt(col(queryVec), cents, cents.length))
        .as(Seq("__pos", "__c")))
      .join(broadcast(counts.select(col("cell").as("__c"), col("__n"))),
        Seq("__c"), "left")
    val perPos = ranked.groupBy("__pos")
      .agg(coalesce(sum(col("__n")), lit(0L)).as("__s"))
    val nq = queries.agg(count(lit(1)).as("__nq"))
    val nc = counts.agg(coalesce(sum(col("__n")), lit(0L)).as("__nc"))
    // cumulative over an nlist-row frame: the single-partition window
    // is over the MODEL-sized curve, never data
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perPos
      .withColumn("__cum", sum(col("__s")).over(w))
      .crossJoin(broadcast(nq)).crossJoin(broadcast(nc))
      .select((col("__pos") + 1).cast("int").as("nprobe"),
        expr("""CAST((CAST(__cum AS DECIMAL(38,0)) * 1000000)
          DIV (__nq * __nc) AS BIGINT)""").as("covered_ppm"))
      .orderBy("nprobe")
  }

  /** The smallest nprobe whose probed-mass coverage meets
    * `targetPpm`, from a [[probeCoverage]] curve (nlist rows — a
    * model-sized collect). Falls back to nlist (exhaustive probe)
    * when even full coverage misses the target (degenerate profiles). */
  def nprobeForTarget(curve: DataFrame, targetPpm: Long): Int = {
    val rows = curve.select(col("nprobe"), col("covered_ppm"))
      .collect().sortBy(_.getInt(0))
    rows.find(_.getLong(1) >= targetPpm).map(_.getInt(0))
      .getOrElse(if (rows.isEmpty) 1 else rows.last.getInt(0))
  }

  /** [[searchIndexInt]] with the nprobe DERIVED from a caller-
    * specified coverage target instead of hand-picked: the index's
    * own cell profile + the query sample's ranked cells choose the
    * smallest nprobe whose probed mass meets `targetMassPpm` (a
    * conservative recall floor — see [[probeCoverage]]). Returns the
    * results plus the chosen nprobe so callers can record the
    * operating point. */
  def searchIndexIntAtTarget(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, corpusId: String, corpusVec: String,
      queryId: String, queryVec: String, k: Int, targetMassPpm: Long)
      : (DataFrame, Int) = {
    val cents = loadCentroidsInt(spark, path)
    val nprobe = nprobeForTarget(
      probeCoverageIndexed(spark, path, queries, queryVec), targetMassPpm)
    (searchIndexInt(spark, path, queries, corpusId, corpusVec,
      queryId, queryVec, cents, k, nprobe), nprobe)
  }

  /** Recall@k audit of the IVF search against the exact brute force —
    * the drift monitor's other half: as a frozen-centroid index grows,
    * RECALL decays before latency does, and this is the number the
    * rebuild decision actually needs. One row per query:
    * (query_id, hits, recall_ppm) with hits = |IVF top-k ∩ exact
    * top-k| and the denominator the exact side's actual row count
    * (fewer than k finite-scored candidates → smaller denominator,
    * the [[Similarity.rankTopK]] no-rank contract; no candidates at
    * all → null recall, surfaced not defaulted).
    *
    * Cost: the exact side is a full corpus × queries pass — this is a
    * MONITORING operator, run over a bounded query SAMPLE (hundreds,
    * not the corpus): one corpus scan per audit, and both rankings
    * shuffle at most k pairs per (query, task) ([[Similarity
    * .rankTopK]]), never the candidate sets. */
  def recallAtK(corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      cents: Array[IntCentroid], k: Int, nprobe: Int): DataFrame = {
    val ivf = topKInt(corpus, queries, corpusId, corpusVec,
        queryId, queryVec, cents, k, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val exact = Similarity.bruteForceTopK(corpus, queries, corpusId,
        corpusVec, queryId, queryVec, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = ivf.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    val nExact = exact.groupBy("query_id").agg(count(lit(1)).as("__n_exact"))
    queries.select(col(queryId).as("query_id")).distinct()
      .join(nExact, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr("(coalesce(hits, CAST(0 AS BIGINT)) * CAST(1000000 AS BIGINT))" +
          " DIV __n_exact").as("recall_ppm"))
  }

  // ------------------------------------------- semantic dedup intake tier

  /** Probe a [[buildIndexInt]] index for SEMANTIC DUPLICATES of a
    * batch — the SemDeDup counterpart of
    * [[graft.operators.Dedup.probeFuzzyIndex]]: each batch vector is
    * assigned its single nearest cell under the layout's own frozen
    * centroids (`_centroids/` — a model mismatch is impossible by
    * construction) and compared, full-precision cosine, against ONLY
    * the indexed vectors of that cell. Blocking recall contract is
    * SemDeDup's ([[Dedup.semanticDupPairs]]): a near-dup pair split
    * across a cell boundary is not surfaced — the price of making the
    * quadratic term per-cell.
    *
    * I/O shape: a batch reads only the cells it lands in, never the
    * corpus ([[IndexTable]]'s PRUNE rule). Norms come precomputed
    * from the build pass (`__cn`).
    *
    * Output: (in_id, corpus_id, cosine) with cosine >= threshold,
    * including self-id rows only if the index already holds the
    * batch's own ids (callers filter — the crash-replay rule, see
    * [[intakeStepAgainstIndexInt]]). */
  def probeIndexSemantic(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String,
      corpusId: String, corpusVec: String, threshold: Double): DataFrame = {
    val cents = loadCentroidsInt(spark, path)
    val q = batch.select(col(idCol).as("in_id"), col(vecCol).as("__qv"))
      .withColumn("__cell", cellIdInt(col("__qv"), cents))
      .withColumn("__qn", Similarity.norm(col("__qv")))
    cellTable(path).readFor(spark, q, col("__cell"))
      .join(broadcast(q), Seq("__cell"))
      .withColumn("cosine", Similarity.cosineWithNorms(
        col("__qv"), col(corpusVec), col("__qn"), col("__cn")))
      .where(col("cosine") >= threshold)
      .select(col("in_id"), col(corpusId).as("corpus_id"), col("cosine"))
  }

  /** [[intakeStepAgainstIndexInt]] under the framework's first-batch
    * BOOTSTRAP contract ([[graft.operators.Curate.intakeStep]]'s rule
    * applied to the vector tier): if no index exists at `path`, the
    * FIRST non-empty batch founds it — centroids are seeded from that
    * whole batch and FROZEN forever after (the [[appendToIndexInt]]
    * drift contract), the batch SemDeDups within itself under those
    * centroids, and the survivors become the build corpus. An empty
    * batch leaves the tier unborn (a 0-row partitioned build would
    * write an unreadable layout); the next non-empty batch bootstraps.
    *
    * Crash replay converges either way: a crash BEFORE `_centroids/`
    * lands re-enters this bootstrap path (the build is an Overwrite);
    * a crash after it re-enters the intake path, where the loaded
    * centroids equal the seeded ones and the probe's same-id filter
    * keeps the batch from deduping against its own crashed build. */
  def intakeStepOrBootstrap(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, maxCellSize: Int = 100000)
      : DataFrame = {
    val centPath = new org.apache.hadoop.fs.Path(s"$path/_centroids")
    val fs = centPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(centPath))
      intakeStepAgainstIndexInt(spark, path, batch, idCol, vecCol,
        threshold, maxCellSize)
    else if (batch.isEmpty) batch
    else {
      val cents = seedCentroidsInt(batch, idCol, vecCol, nlist)
      val pairs = Dedup.semanticDupPairs(batch, idCol, vecCol, cents,
        threshold, maxCellSize)
      val survivors =
        Dedup.clusterSurvivors(batch, idCol, pairs).localCheckpoint()
      buildIndexInt(survivors, idCol, vecCol, cents, path)
      survivors
    }
  }

  /** One incremental-intake step against a persisted semantic index —
    * the THIRD dedup tier's growing form, completing the set
    * ([[Dedup.intakeStepAgainstExactIndex]] digests,
    * [[Dedup.intakeStepAgainstFuzzyIndex]] MinHash, this one
    * embeddings). FIRST-WINS over arrival order:
    * (1) within-batch SemDeDup ([[Dedup.semanticDupPairs]] under the
    * index's own frozen centroids, lowest id per dup cluster
    * survives); (2) the survivors probe the index
    * ([[probeIndexSemantic]]) and vectors with a semantic dup already
    * IN the corpus are dropped; (3) the accepted remainder is
    * APPENDED ([[appendToIndexInt]]) so the NEXT batch dedups against
    * it. Batch columns must match the index build's
    * (corpusId/corpusVec = idCol/vecCol).
    *
    * Crash recovery = re-run the step (the framework-wide rule): the
    * probe ignores index rows carrying a batch row's OWN id — with
    * corpus-unique ids those can only be this batch's earlier crashed
    * append — so a replay converges on the never-crashed decisions;
    * duplicate index rows from the replayed append are harmless to
    * dup DECISIONS (the drop set is a distinct anti-join), redundant
    * only as verification payload.
    *
    * With id order == arrival order and transitively-closed dup
    * groups, a sequence of these steps lands exactly where one-shot
    * [[Dedup.semanticDupPairs]] + [[Dedup.clusterSurvivors]] over the
    * concatenated corpus lands; with CHAINED groups (A~B, B~C, but
    * A≁C — common for cosine thresholds, unlike near-identical text
    * dups) sequential first-wins deliberately keeps MORE: C is
    * admitted because its only in-corpus neighbor B was never
    * accepted. The x60 oracle replays the sequential semantics
    * exactly, so that difference is pinned, not papered over. */
  def intakeStepAgainstIndexInt(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxCellSize: Int = 100000): DataFrame = {
    val cents = loadCentroidsInt(spark, path)
    val inPairs = Dedup.semanticDupPairs(batch, idCol, vecCol, cents,
      threshold, maxCellSize)
    val batchSurvivors = Dedup.clusterSurvivors(batch, idCol, inPairs)
    val dropIds = probeIndexSemantic(spark, path, batchSurvivors,
        idCol, vecCol, idCol, vecCol, threshold)
      .where(col("corpus_id") =!= col("in_id"))
      .select(col("in_id").as(idCol)).distinct()
    val accepted =
      batchSurvivors.join(dropIds, Seq(idCol), "left_anti").localCheckpoint()
    appendToIndexInt(accepted, idCol, vecCol, cents, path)
    accepted
  }
}
