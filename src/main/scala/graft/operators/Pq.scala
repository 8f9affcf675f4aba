package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PRODUCT QUANTIZATION (PQ) for vector search at memory scale
  * (Jégou, Douze, Schmid 2011): split the d-dim vector into `m`
  * subspaces, learn a small codebook per subspace, and store each
  * vector as its m nearest-codeword ids — 20k-dim float storage
  * becomes m small integers (8 bytes at m=8), which is what makes a
  * 100 TB corpus's vectors fit an ANN tier at all. Search is ADC
  * (asymmetric distance computation): per query, one m×ncode distance
  * table; a corpus row's approximate distance is m table lookups —
  * the vectors themselves are never read again.
  *
  * The house determinism discipline applies end to end: codebooks are
  * SEED-GROUP centroids over the ×1000-quantized integer vectors
  * (the [[IvfAnn.seedCentroidsInt]] rule — a pure function of the
  * data, bit-replayable externally, unlike iterative k-means),
  * encoding is exact-integer argmin with ties to the lower code, and
  * ADC sums are exact Longs — the x125/x126 oracles replay codebooks,
  * codes, tables, and rankings bit-for-bit. And the lossy tier ships
  * its measured loss: [[recallAudit]] reports ADC recall against the
  * exact integer ranking.
  *
  * Scale shape: train = one posexplode + one (ncode × d)-cell hash
  * agg; encode = m invocations of the codegen'd
  * [[graft.functions.NearestCells]] argmin over sliced subvectors
  * (map-only); search = the query batch's model-sized distance tables
  * joined against the CODES relation (m small ints per corpus row —
  * the shuffle carries codes and table rows, never vectors). */
object Pq {

  /** words(s)(c)(d): codeword c of subspace s, dimension d within the
    * subspace — rounded integer means in the ×1000 quantized space. */
  case class Codebook(m: Int, subDim: Int, ncode: Int,
      words: Array[Array[Array[Long]]])

  private def quantize3(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1000.0)).cast("long"))

  /** Train the deterministic seeded codebook: codeword c of every
    * subspace is the rounded integer mean of the quantized subvectors
    * of rows with `pmod(id, ncode) == c` — one scan, one bounded hash
    * agg, model-sized result. */
  def trainSeeded(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ncode: Int): Codebook = {
    val rows = corpus
      .select(pmod(col(idCol), lit(ncode)).cast("int").as("c"),
        posexplode(quantize3(col(vecCol))).as(Seq("pos", "qv")))
      .groupBy("c", "pos")
      .agg(sum("qv").as("s"), count(lit(1)).as("n"))
      .collect()
    require(rows.nonEmpty, "Pq.trainSeeded: empty corpus")
    val dim = rows.iterator.map(_.getInt(1)).max + 1
    require(dim % m == 0, s"Pq.trainSeeded: dim $dim not divisible by m=$m")
    val subDim = dim / m
    val words = Array.fill(m, ncode)(new Array[Long](subDim))
    rows.foreach { r =>
      val pos = r.getInt(1)
      words(pos / subDim)(r.getInt(0))(pos % subDim) =
        math.floor(r.getLong(2).toDouble / r.getLong(3) + 0.5).toLong
    }
    Codebook(m, subDim, ncode, words)
  }

  /** The m-code encoding of `vec` as an array<int> column: per
    * subspace, the exact-integer argmin codeword (ties to the lower
    * code) via the codegen'd NearestCells expression over the sliced
    * subvector. Map-only. */
  def encode(vec: Column, cb: Codebook): Column =
    array((0 until cb.m).map { s =>
      element_at(graft.functions.NearestCells.nearestIntCol(
        slice(vec, s * cb.subDim + 1, cb.subDim),
        cb.words(s), (0 until cb.ncode).toArray, 1), 1)
    }: _*)

  /** The codebook as a model-sized relation (s, c, d, w) — the join
    * form of the literal model, for relational ADC. */
  def codebookRelation(spark: org.apache.spark.sql.SparkSession,
      cb: Codebook): DataFrame = {
    import spark.implicits._
    (for (s <- 0 until cb.m; c <- 0 until cb.ncode; d <- 0 until cb.subDim)
      yield (s, c, d, cb.words(s)(c)(d))).toDF("s", "c", "d", "w")
  }

  /** Per-query ADC distance tables: (qid, s, c, dist) with dist = the
    * exact integer L2² between the query's quantized subvector and
    * codeword (s, c). One fan-out of the QUERY batch (d rows each)
    * joined against the broadcast codebook — m·ncode rows per query. */
  def distTables(queries: DataFrame, qid: String, qvec: String,
      cb: Codebook): DataFrame = {
    val q = queries.select(col(qid).as("qid"),
        posexplode(quantize3(col(qvec))).as(Seq("pos", "qv")))
      .withColumn("s", (col("pos") / cb.subDim).cast("int"))
      .withColumn("d", pmod(col("pos"), lit(cb.subDim)).cast("int"))
    q.join(broadcast(codebookRelation(queries.sparkSession, cb)),
        Seq("s", "d"))
      .groupBy("qid", "s", "c")
      .agg(sum(expr("(qv - w) * (qv - w)")).as("dist"))
  }

  /** Rank scored (qid, id, adc) rows to per-query top-k through the
    * BOUNDED [[graft.functions.TopKPairs]] aggregate with score
    * −adc — "(−adc) DESC, id ASC" is exactly "(adc ASC, id ASC)", the
    * oracle's total order, and the aggregate runs partial map-side so
    * the shuffle carries ≤ k pairs per (query, task) instead of
    * sorting every candidate per query (the rankTopK lesson). ADC
    * sums are far below 2⁵³, so the double round-trip is exact. */
  private def rankAdcTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("qid")
      .agg(graft.functions.TopKPairs.column(
        -col("adc").cast("double"), col("id").cast("long"), k).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__pos", "__s")))
      .select(col("qid"), (col("__pos") + 1).cast("int").as("rk"),
        col("__s.id").as("id"),
        (-col("__s.cosine")).cast("long").as("adc"))

  /** ADC top-k: the codes relation (id, codes) fans out to its m
    * (s, c) lookups, joins the query tables, sums per (qid, id), and
    * ranks by (adc, id) through the bounded top-k aggregate. The
    * shuffle carries codes and exact-Long partial sums — never
    * vectors, and never a per-query sort of the corpus. */
  def searchAdc(codes: DataFrame, dtab: DataFrame, k: Int): DataFrame = {
    val e = codes.select(col("id"), posexplode(col("codes")).as(Seq("s", "c")))
    rankAdcTopK(
      // the distance tables are model-sized (queries × m × ncode rows)
      // — broadcast them so the CODES relation never shuffles
      e.join(broadcast(dtab), Seq("s", "c"))
        .groupBy("qid", "id")
        .agg(sum("dist").as("adc")), k)
  }

  /** End-to-end ADC search over raw relations: train is the caller's
    * (pass the codebook), corpus is encoded on the fly (index the
    * codes relation with [[encode]] for the persisted form). */
  def topKAdc(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      cb: Codebook, k: Int): DataFrame =
    searchAdc(
      corpus.select(col(corpusId).as("id"),
        encode(col(corpusVec), cb).as("codes")),
      distTables(queries, queryId, queryVec, cb), k)

  /** MEASURED loss of the PQ tier: ADC top-k vs the EXACT integer-L2²
    * top-k (both deterministic, ties by id), one row:
    * (k, n_queries, n_hits, recall_ppm). */
  def recallAudit(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      cb: Codebook, k: Int): DataFrame =
    auditAgainstExact(
      topKAdc(corpus, corpusId, corpusVec, queries, queryId, queryVec, cb, k),
      corpus, corpusId, corpusVec, queries, queryId, queryVec, k)

  /** ADC search WITH EXACT RE-RANKING — the standard recall repair
    * for quantized tiers (Jégou et al. 2011 §V.C): the codes pick a
    * candidate set of `rerank` rows per query (cheap, vectors
    * untouched), then ONLY those rows' original vectors are read and
    * re-scored by exact integer L2², returning the exact-ranked
    * top-k. Cost: the vector reads drop from corpus-sized to
    * (queries × rerank) — the recall/IO knob a caller tunes with the
    * x132 measured curve instead of accepting the raw-ADC floor.
    * Output: (qid, rk, id, d2) ranked by exact (d2, id). */
  def topKAdcRerank(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      cb: Codebook, k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"Pq.topKAdcRerank: rerank=$rerank < k=$k")
    val cand = topKAdc(corpus, corpusId, corpusVec,
        queries, queryId, queryVec, cb, rerank)
      .select(col("qid"), col("id"))
    val c = corpus.select(col(corpusId).as("id"),
      quantize3(col(corpusVec)).as("cv"))
    val q = queries.select(col(queryId).as("qid"),
      quantize3(col(queryVec)).as("qv"))
    val rescored = cand
      .join(c, Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("id"),
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("adc"))
    rankAdcTopK(rescored, k)
      .withColumnRenamed("adc", "d2")
  }

  /** The re-ranked tier's measured recall — read beside [[recallAudit]]
    * to size the `rerank` knob: one row per candidate-set size. */
  def rerankRecallAudit(corpus: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String,
      queryVec: String, cb: Codebook, k: Int, rerank: Int): DataFrame =
    auditAgainstExact(
      topKAdcRerank(corpus, corpusId, corpusVec, queries, queryId,
        queryVec, cb, k, rerank),
      corpus, corpusId, corpusVec, queries, queryId, queryVec, k)

  private def auditAgainstExact(approx: DataFrame,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(corpusId).as("id"),
      quantize3(col(corpusVec)).as("cv"))
    val q = queries.select(col(queryId).as("qid"),
      quantize3(col(queryVec)).as("qv"))
    val exact = q.crossJoin(c)
      .select(col("qid"), col("id"),
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy("d2", "id")))
      .where(col("rk") <= k)
      .select(col("qid"), col("id"))
    approx.join(exact, Seq("qid", "id"))
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(queries.agg(
        count(lit(1)).cast("long").as("n_queries"))))
      .select(lit(k).cast("long").as("k"), col("n_queries"), col("n_hits"),
        expr(s"(n_hits * CAST(1000000 AS BIGINT)) DIV (n_queries * $k)")
          .as("recall_ppm"))
  }

  // ------------------------------------------------------------- IVF-PQ

  /** The nlist×dim centroid model as a literal array-of-arrays column
    * (cells are 0..nlist−1 contiguous by the seed rule), for residual
    * subtraction via one `element_at`. */
  private def centArray(cents: Array[IvfAnn.IntCentroid]): Column =
    array(cents.sortBy(_.cell).map(ic =>
      array(ic.c.map(lit(_)): _*)): _*)

  /** (id, cell, rv): each row's IVF cell (exact-integer argmin over
    * the coarse centroids) and its quantized RESIDUAL vector
    * qv − centroid[cell] — the vector PQ encodes in an IVF-PQ index
    * (Jégou et al. 2011 §IV: residuals are what the per-cell
    * distribution leaves after the coarse quantizer). */
  private def residualRelation(corpus: DataFrame, idCol: String,
      vecCol: String, cents: Array[IvfAnn.IntCentroid]): DataFrame =
    corpus.select(col(idCol).as("id"),
        IvfAnn.cellIdInt(col(vecCol), cents).as("cell"),
        quantize3(col(vecCol)).as("qv"))
      .withColumn("rv", zip_with(col("qv"),
        element_at(centArray(cents), col("cell") + 1), (a, b) => a - b))
      .drop("qv")

  /** Train the residual codebook: seed-group integer means over the
    * RESIDUAL vectors (one global codebook shared across cells — the
    * standard IVF-PQ shape). Same determinism as [[trainSeeded]]. */
  def trainSeededResiduals(corpus: DataFrame, idCol: String,
      vecCol: String, cents: Array[IvfAnn.IntCentroid],
      m: Int, ncode: Int): Codebook = {
    val rows = residualRelation(corpus, idCol, vecCol, cents)
      .select(pmod(col("id"), lit(ncode)).cast("int").as("c"),
        posexplode(col("rv")).as(Seq("pos", "qv")))
      .groupBy("c", "pos")
      .agg(sum("qv").as("s"), count(lit(1)).as("n"))
      .collect()
    require(rows.nonEmpty, "Pq.trainSeededResiduals: empty corpus")
    val dim = rows.iterator.map(_.getInt(1)).max + 1
    require(dim % m == 0,
      s"Pq.trainSeededResiduals: dim $dim not divisible by m=$m")
    val subDim = dim / m
    val words = Array.fill(m, ncode)(new Array[Long](subDim))
    rows.foreach { r =>
      val pos = r.getInt(1)
      words(pos / subDim)(r.getInt(0))(pos % subDim) =
        math.floor(r.getLong(2).toDouble / r.getLong(3) + 0.5).toLong
    }
    Codebook(m, subDim, ncode, words)
  }

  /** The IVF-PQ CODES relation (id, cell, s, c): every row's residual
    * encoded per subspace by exact-integer argmin, computed
    * RELATIONALLY (residual fan-out + broadcast codebook join + one
    * rank window over m·ncode candidate rows per vector) — a build-
    * time cost, run once per index. */
  def ivfPqCodes(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[IvfAnn.IntCentroid], cb: Codebook): DataFrame = {
    val r = residualRelation(corpus, idCol, vecCol, cents)
      .select(col("id"), col("cell"),
        posexplode(col("rv")).as(Seq("pos", "qv")))
      .withColumn("s", (col("pos") / cb.subDim).cast("int"))
      .withColumn("d", pmod(col("pos"), lit(cb.subDim)).cast("int"))
    r.join(broadcast(codebookRelation(corpus.sparkSession, cb)),
        Seq("s", "d"))
      .groupBy("id", "cell", "s", "c")
      .agg(sum(expr("(qv - w) * (qv - w)")).as("d2"))
      // argmin as min-of-struct (d2, c): lexicographic order IS
      // "smallest distance, ties to the lower code" — a hash agg with
      // map-side combine, where a row_number window would shuffle AND
      // sort every (vector, subspace) candidate group
      .groupBy("id", "cell", "s")
      .agg(min(struct(col("d2"), col("c"))).as("__m"))
      .select(col("id"), col("cell"), col("s"), col("__m.c").as("c"))
  }

  /** IVF-PQ top-k: queries probe their `nprobe` nearest cells, build
    * per-(query, cell) ADC tables against centroid + codeword (the
    * residual form: distance entry = ||q − centroid[cell] −
    * word[s][c]||² over the subspace), and the equi-join on
    * (cell, s, c) against the codes relation restricts scoring to the
    * PROBED cells' rows — the IVF pruning falls out of the join key.
    * Shuffles carry codes and exact-Long partials, never vectors. */
  def topKIvfPq(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      cents: Array[IvfAnn.IntCentroid], cb: Codebook,
      k: Int, nprobe: Int): DataFrame = {
    val codes = ivfPqCodes(corpus, corpusId, corpusVec, cents, cb)
    val qres = queries.select(col(queryId).as("qid"),
        quantize3(col(queryVec)).as("qv"),
        explode(IvfAnn.probeCellsInt(col(queryVec), cents, nprobe))
          .as("cell"))
      .select(col("qid"), col("cell"),
        posexplode(zip_with(col("qv"),
          element_at(centArray(cents), col("cell") + 1),
          (a, b) => a - b)).as(Seq("pos", "rq")))
      .withColumn("s", (col("pos") / cb.subDim).cast("int"))
      .withColumn("d", pmod(col("pos"), lit(cb.subDim)).cast("int"))
    val dtab = qres
      .join(broadcast(codebookRelation(queries.sparkSession, cb)),
        Seq("s", "d"))
      .groupBy("qid", "cell", "s", "c")
      .agg(sum(expr("(rq - w) * (rq - w)")).as("dist"))
    rankAdcTopK(
      codes.join(broadcast(dtab), Seq("cell", "s", "c"))
        .groupBy("qid", "id")
        .agg(sum("dist").as("adc")), k)
  }

  /** Build the PERSISTED IVF-PQ index — the 100 TB serving layout:
    * one row per vector (id, codes: array<int>) in the [[IvfAnn]] cell
    * table (`partitionBy(__cell)`, [[IndexTable]]), with the FROZEN
    * models riding in the layout itself (`_centroids/` — the
    * [[IvfAnn]] convention — and `_codebook/`), so the index is
    * self-describing and a search reads only the probed cells'
    * partitions. The stored bytes per vector are the m codes — the
    * corpus vectors are not in the index at all. */
  def buildIndexIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int, m: Int, ncode: Int): Unit = {
    val spark = corpus.sparkSession
    val cents = IvfAnn.seedCentroidsInt(corpus, idCol, vecCol, nlist)
    val cb = trainSeededResiduals(corpus, idCol, vecCol, cents, m, ncode)
    val rows = codeRows(corpus, idCol, vecCol, cents, cb)
    IvfAnn.cellTable(path).write(rows, org.apache.spark.sql.SaveMode.Overwrite)
    IvfAnn.writeCentroids(spark, cents, IvfAnn.cellTable(path).ddl(rows), path)
    IndexTable.writeMeta(codebookRelation(spark, cb), s"$path/_codebook")
  }

  /** The cell-table rows (id, __cell, codes) of `corpus`. */
  private def codeRows(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[IvfAnn.IntCentroid], cb: Codebook): DataFrame =
    ivfPqCodes(corpus, idCol, vecCol, cents, cb)
      .groupBy("id", "cell")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("c")))),
        x => x.getField("c")).as("codes"))
      .withColumnRenamed("cell", "__cell")

  /** Read the frozen codebook back from a [[buildIndexIvfPq]] layout
    * (model-sized: m·ncode·subDim longs; cached per path). */
  def loadCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Codebook = {
    val rows = IndexTable.meta(spark, s"$path/_codebook")
    require(rows.nonEmpty, s"Pq.loadCodebook: empty model at $path")
    val m = rows.iterator.map(_.getAs[Int]("s")).max + 1
    val ncode = rows.iterator.map(_.getAs[Int]("c")).max + 1
    val subDim = rows.iterator.map(_.getAs[Int]("d")).max + 1
    val words = Array.fill(m, ncode)(new Array[Long](subDim))
    rows.foreach { r =>
      words(r.getAs[Int]("s"))(r.getAs[Int]("c"))(r.getAs[Int]("d")) =
        r.getAs[Long]("w")
    }
    Codebook(m, subDim, ncode, words)
  }

  /** Search a [[buildIndexIvfPq]] layout: the index scan READS only
    * the queries' probed cells ([[IndexTable]]'s PRUNE rule) — I/O is
    * ~nprobe/nlist of an index that already stores only m small ints
    * per vector. Scoring is the relational ADC of [[topKIvfPq]] over
    * the pruned codes. */
  def searchIndexIvfPq(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nprobe: Int): DataFrame = {
    val cents = IvfAnn.loadCentroidsInt(spark, path)
    val cb = loadCodebook(spark, path)
    val q = queries.select(col(queryId).as("qid"),
      quantize3(col(queryVec)).as("qv"),
      explode(IvfAnn.probeCellsInt(col(queryVec), cents, nprobe))
        .as("__cell"))
    val codesRel = IvfAnn.cellTable(path).readFor(spark, q, col("__cell"))
      .select(col("id"), col("__cell"),
        posexplode(col("codes")).as(Seq("s", "c")))
    val dtab = q
      .select(col("qid"), col("__cell"),
        posexplode(zip_with(col("qv"),
          element_at(centArray(cents), col("__cell") + 1),
          (a, b) => a - b)).as(Seq("pos", "rq")))
      .withColumn("s", (col("pos") / cb.subDim).cast("int"))
      .withColumn("d", pmod(col("pos"), lit(cb.subDim)).cast("int"))
      .join(broadcast(codebookRelation(spark, cb)), Seq("s", "d"))
      .groupBy("qid", "__cell", "s", "c")
      .agg(sum(expr("(rq - w) * (rq - w)")).as("dist"))
    rankAdcTopK(
      codesRel.join(broadcast(dtab), Seq("__cell", "s", "c"))
        .groupBy("qid", "id")
        .agg(sum("dist").as("adc")), k)
  }

  /** APPEND a batch into a persisted [[buildIndexIvfPq]] layout — the
    * incremental-ingest twin of [[IvfAnn.appendToIndexInt]], under
    * the same FROZEN-models contract: cell and codes are pure
    * functions of (vector, centroids, codebook), so an appended index
    * is row-identical to a fresh build over the concatenated corpus
    * under the same models (spec-asserted), and only the cells the
    * batch lands in gain files. Drift costs cell balance, never
    * correctness — monitor and rebuild per the IvfAnn rule. */
  def appendToIndexIvfPq(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    IvfAnn.cellTable(path).write(codeRows(batch, idCol, vecCol,
        IvfAnn.loadCentroidsInt(spark, path), loadCodebook(spark, path)),
      org.apache.spark.sql.SaveMode.Append)
  }

  /** TAKEDOWN from a [[buildIndexIvfPq]] layout — the retention/
    * licensing obligation for the codes tier: with the frozen
    * centroids the doomed rows' cells are pure functions of their
    * vectors, so only those cells are rewritten ([[IndexTable]]'s
    * TAKEDOWN rule); a removed vector stops surfacing as anyone's ADC
    * neighbor. */
  def deleteFromIndexIvfPq(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, idCol: String,
      vecCol: String): Dedup.IndexDeleteReport = {
    val cents = IvfAnn.loadCentroidsInt(spark, path)
    val targets = docs.select(col(idCol).as("__did"),
      IvfAnn.cellIdInt(col(vecCol), cents).as("__cell"))
    val doomed = targets.select(col("__did").as("id")).distinct()
    IvfAnn.cellTable(path).takedown(spark,
        IndexTable.shards(targets, col("__cell")))(
      _.join(doomed, Seq("id"), "left_anti"))
  }

  /** The IVF-PQ tier's MEASURED loss: two approximations compound
    * (probed cells may miss true neighbors; 8-byte codes blur
    * distances) — this reads the realized recall against the exact
    * integer ranking, the number that sizes nprobe/ncode. */
  def recallAuditIvfPq(corpus: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String,
      queryVec: String, cents: Array[IvfAnn.IntCentroid], cb: Codebook,
      k: Int, nprobe: Int): DataFrame =
    auditAgainstExact(
      topKIvfPq(corpus, corpusId, corpusVec, queries, queryId, queryVec,
        cents, cb, k, nprobe),
      corpus, corpusId, corpusVec, queries, queryId, queryVec, k)
}
