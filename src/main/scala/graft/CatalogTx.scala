package graft

import graft.operators.{AsOfJoin, Audio, Bpe, Curate, Dedup, IvfAnn, Kmv, Multimodal, Pca, Pq, RangeJoin, Sampling, Similarity, SkewJoin, Snapshot, TableProfile, TextAnalysis, TxLog, Urls, ZOrder}
import graft.pipeline.AirQuality
import graft.streaming.EventStream
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Catalog part 5: layout/skipping audits, KMV quantiles, the
  * transactional table family (x147+), learned filters, and the r13
  * merge/evolution/JPEG additions.
  *
  * Split from the single-file Catalog at r13 (8.9k lines and growing
  * ~700/round); [[Catalog.entries]] concatenates the parts in the
  * original order, so the driver contract (queries/oracleSql/
  * headlines) is untouched. */
private[graft] object CatalogTx {

  import Tables._
  import CatalogShared._

  val defs: Seq[QueryDef] = Seq(


    QueryDef("x122_zorder_skipping",
      // Z-ORDER data skipping, MEASURED (r11): the Morton curve of
      // (partkey mod 4096, suppkey mod 4096) — 32 codegen'd shift/
      // mask/or terms, no UDF — bucketed by fixed z-prefix (the
      // deterministic stand-in for range-clustered files), per-bucket
      // min/max on both dims (exactly parquet footer stats), and the
      // count of buckets a box query [512,1023]² cannot prune,
      // side by side with the single-dim sorted layout at the same
      // granularity. The layout decision in one row pair: z-order
      // reads a few boundary cells, the linear layout reads every
      // stripe the x-range admits (y stats prune nothing there). The
      // oracle replays the interleave as a 16-term bit sum
      (s, d) => ZOrder.skippingAudit(lineitem(s, d),
          col("l_partkey") % 4096, col("l_suppkey") % 4096,
          zShift = 16, linShift = 4,
          xLo = 512, xHi = 1023, yLo = 512, yHi = 1023)
        .orderBy("layout"),
      Some("""WITH pts AS (
                SELECT l_partkey % 4096 AS x, l_suppkey % 4096 AS y
                FROM lineitem),
              pairs AS (SELECT DISTINCT x, y FROM pts),
              zz AS (
                SELECT x, y,
                  CAST(sum((((x >> i.i) & 1) << (2 * i.i))
                     + (((y >> i.i) & 1) << (2 * i.i + 1))) AS BIGINT) AS zv
                FROM pairs, range(0, 16) i(i) GROUP BY x, y),
              withz AS (SELECT p.x, p.y, zz.zv
                        FROM pts p JOIN zz USING (x, y)),
              zb AS (SELECT zv >> 16 AS b,
                  min(x) AS minx, max(x) AS maxx,
                  min(y) AS miny, max(y) AS maxy
                FROM withz GROUP BY 1),
              lb AS (SELECT x >> 4 AS b,
                  min(x) AS minx, max(x) AS maxx,
                  min(y) AS miny, max(y) AS maxy
                FROM pts GROUP BY 1),
              zread AS (SELECT 'zorder' AS layout,
                  CAST(count(*) AS BIGINT) AS n_buckets,
                  CAST(coalesce(sum(CASE WHEN minx <= 1023 AND maxx >= 512
                      AND miny <= 1023 AND maxy >= 512
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_read
                FROM zb),
              lread AS (SELECT 'linear' AS layout,
                  CAST(count(*) AS BIGINT) AS n_buckets,
                  CAST(coalesce(sum(CASE WHEN minx <= 1023 AND maxx >= 512
                      AND miny <= 1023 AND maxy >= 512
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_read
                FROM lb)
              SELECT layout, n_buckets, n_read,
                n_read * 1000000 // n_buckets AS read_ppm
              FROM (SELECT * FROM zread UNION ALL SELECT * FROM lread)
              ORDER BY layout""")),

    QueryDef("x124_gif_resize",
      // GIF → resize → PNG TRANSCODE end to end (r11): real GIFs
      // (genuine LZW) → full LZW decode → nearest-neighbor resample →
      // real PNG re-encode → decoded AGAIN by pngPixelStats. One
      // chain crosses BOTH real codecs — any defect in either
      // container's decode/encode or the resample breaks the sums.
      // Oracle: resized pixel (x,y) of gif id is
      // (id·29 + (x·w div 8)·11 + (y·h div 6)·17) mod 256
      (s, d) => Multimodal.pngPixelStats(s,
          Multimodal.resizeImage(s,
            Multimodal.packRealGifs(s, documents(s, d)
              .where(col("doc_id") < 500).select(col("doc_id")), "doc_id"),
            w = 8, h = 6))
        .orderBy(col("media_id")),
      Some("""WITH imgs AS (
                SELECT doc_id AS id, doc_id % 14 + 4 AS w,
                  (doc_id * 5) % 10 + 4 AS h
                FROM documents WHERE doc_id < 500),
              px AS (
                SELECT id,
                  (id * 29 + ((x.x * w) // 8) * 11
                     + ((y.y * h) // 6) * 17) % 256 AS v
                FROM imgs, range(0, 8) x(x), range(0, 6) y(y))
              SELECT id AS media_id, CAST(8 AS BIGINT) AS width,
                CAST(6 AS BIGINT) AS height,
                count(*) AS n_pixels,
                CAST(sum(v) AS BIGINT) AS sum_pixels,
                CAST(max(v) AS BIGINT) AS max_pixel,
                CAST(count(*) FILTER (v > 127) AS BIGINT) AS n_bright
              FROM px GROUP BY 1 ORDER BY media_id""")),

    QueryDef("x125_pq_codes",
      // PRODUCT QUANTIZATION, the encoding half (r11): seeded
      // deterministic codebooks (8 subspaces × 16 codewords — integer
      // means of the ×1000-quantized seed groups, the IVF centroid
      // rule applied per subspace), every vector encoded to its 8
      // exact-integer argmin codes (ties to the lower code) — the
      // 8-byte representation that makes a 100 TB vector corpus fit
      // an ANN tier. Output pins the FULL assignment: per (subspace,
      // code), the member count and the id sum — any codebook or
      // argmin defect shifts a cell. The oracle re-derives codebooks
      // and every code from the raw embeddings
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = Pq.trainSeeded(emb, "vec_id", "embedding",
          m = 8, ncode = 16)
        emb.select(col("vec_id"),
            posexplode(Pq.encode(col("embedding"), cb)).as(Seq("s", "c")))
          .groupBy("s", "c")
          .agg(count(lit(1)).as("n_vecs"), sum("vec_id").as("sum_ids"))
          .orderBy("s", "c")
      },
      Some("""WITH q AS (
                SELECT vec_id, list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                  AS qv
                FROM embeddings),
              cw AS (
                SELECT CAST((t.d - 1) // 8 AS INT) AS s,
                  CAST(vec_id % 16 AS INT) AS c, CAST(t.d AS INT) AS d,
                  CAST(floor(CAST(sum(qv[CAST(t.d AS INT)]) AS DOUBLE)
                    / count(*) + 0.5) AS BIGINT) AS w
                FROM q, range(1, 65) t(d) GROUP BY 1, 2, 3),
              enc0 AS (
                SELECT q.vec_id, cw.s, cw.c,
                  sum((q.qv[cw.d] - cw.w) * (q.qv[cw.d] - cw.w)) AS d2
                FROM q, cw GROUP BY 1, 2, 3),
              enc AS (
                SELECT vec_id, s, c FROM (
                  SELECT vec_id, s, c, row_number() OVER (
                    PARTITION BY vec_id, s ORDER BY d2, c) AS rn
                  FROM enc0)
                WHERE rn = 1)
              SELECT s, c, CAST(count(*) AS BIGINT) AS n_vecs,
                CAST(sum(vec_id) AS BIGINT) AS sum_ids
              FROM enc GROUP BY 1, 2 ORDER BY s, c""")),

    QueryDef("x126_pq_adc",
      // PQ ADC search (r11): per query one 8×16 exact-integer
      // distance table (query subvector vs codeword), a corpus row's
      // approximate distance = 8 table lookups summed — the vectors
      // are never read at search time, only the 8-code relation. The
      // full top-5 ranking (ties by id) replays externally
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = Pq.trainSeeded(emb, "vec_id", "embedding",
          m = 8, ncode = 16)
        Pq.topKAdc(emb, "vec_id", "embedding",
            emb.where(col("vec_id") < 20), "vec_id", "embedding",
            cb, k = 5)
          .orderBy("qid", "rk")
      },
      Some("""WITH q AS (
                SELECT vec_id, list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                  AS qv
                FROM embeddings),
              cw AS (
                SELECT CAST((t.d - 1) // 8 AS INT) AS s,
                  CAST(vec_id % 16 AS INT) AS c, CAST(t.d AS INT) AS d,
                  CAST(floor(CAST(sum(qv[CAST(t.d AS INT)]) AS DOUBLE)
                    / count(*) + 0.5) AS BIGINT) AS w
                FROM q, range(1, 65) t(d) GROUP BY 1, 2, 3),
              enc0 AS (
                SELECT q.vec_id, cw.s, cw.c,
                  sum((q.qv[cw.d] - cw.w) * (q.qv[cw.d] - cw.w)) AS d2
                FROM q, cw GROUP BY 1, 2, 3),
              enc AS (
                SELECT vec_id, s, c FROM (
                  SELECT vec_id, s, c, row_number() OVER (
                    PARTITION BY vec_id, s ORDER BY d2, c) AS rn
                  FROM enc0)
                WHERE rn = 1),
              dt AS (
                SELECT qq.vec_id AS qid, cw.s, cw.c,
                  sum((qq.qv[cw.d] - cw.w) * (qq.qv[cw.d] - cw.w)) AS dist
                FROM q qq, cw WHERE qq.vec_id < 20 GROUP BY 1, 2, 3),
              adc AS (
                SELECT dt.qid, e.vec_id AS id, sum(dt.dist) AS adc
                FROM enc e JOIN dt ON dt.s = e.s AND dt.c = e.c
                GROUP BY 1, 2),
              ranked AS (SELECT qid, id, adc, row_number() OVER (
                  PARTITION BY qid ORDER BY adc, id) AS rk FROM adc)
              SELECT qid, CAST(rk AS INT) AS rk, id,
                CAST(adc AS BIGINT) AS adc
              FROM ranked WHERE rk <= 5 ORDER BY qid, rk""")),

    QueryDef("x127_pq_recall",
      // the PQ tier's MEASURED loss (the x62/x113 discipline): ADC
      // top-5 vs the exact integer-L2 top-5 on the same queries, one
      // row (k, n_queries, n_hits, recall_ppm) — the number a caller
      // reads before trusting 8-byte codes with a retrieval stage.
      // Both rankings are deterministic (ties by id) so the oracle
      // re-derives the recall exactly
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = Pq.trainSeeded(emb, "vec_id", "embedding",
          m = 8, ncode = 16)
        Pq.recallAudit(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 50), "vec_id", "embedding",
          cb, k = 5)
      },
      Some("""WITH q AS (
                SELECT vec_id, list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                  AS qv
                FROM embeddings),
              cw AS (
                SELECT CAST((t.d - 1) // 8 AS INT) AS s,
                  CAST(vec_id % 16 AS INT) AS c, CAST(t.d AS INT) AS d,
                  CAST(floor(CAST(sum(qv[CAST(t.d AS INT)]) AS DOUBLE)
                    / count(*) + 0.5) AS BIGINT) AS w
                FROM q, range(1, 65) t(d) GROUP BY 1, 2, 3),
              enc0 AS (
                SELECT q.vec_id, cw.s, cw.c,
                  sum((q.qv[cw.d] - cw.w) * (q.qv[cw.d] - cw.w)) AS d2
                FROM q, cw GROUP BY 1, 2, 3),
              enc AS (
                SELECT vec_id, s, c FROM (
                  SELECT vec_id, s, c, row_number() OVER (
                    PARTITION BY vec_id, s ORDER BY d2, c) AS rn
                  FROM enc0)
                WHERE rn = 1),
              dt AS (
                SELECT qq.vec_id AS qid, cw.s, cw.c,
                  sum((qq.qv[cw.d] - cw.w) * (qq.qv[cw.d] - cw.w)) AS dist
                FROM q qq, cw WHERE qq.vec_id < 50 GROUP BY 1, 2, 3),
              adc AS (
                SELECT dt.qid, e.vec_id AS id, sum(dt.dist) AS adc
                FROM enc e JOIN dt ON dt.s = e.s AND dt.c = e.c
                GROUP BY 1, 2),
              apr AS (SELECT qid, id FROM (
                  SELECT qid, id, row_number() OVER (
                    PARTITION BY qid ORDER BY adc, id) AS rk FROM adc)
                WHERE rk <= 5),
              ex0 AS (
                SELECT a.vec_id AS qid, b.vec_id AS id,
                  CAST(sum((a.qv[CAST(t.d AS INT)] - b.qv[CAST(t.d AS INT)])
                     * (a.qv[CAST(t.d AS INT)] - b.qv[CAST(t.d AS INT)]))
                    AS BIGINT) AS d2
                FROM q a, q b, range(1, 65) t(d) WHERE a.vec_id < 50
                GROUP BY 1, 2),
              exr AS (SELECT qid, id FROM (
                  SELECT qid, id, row_number() OVER (
                    PARTITION BY qid ORDER BY d2, id) AS rk FROM ex0)
                WHERE rk <= 5),
              hits AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
                       FROM apr JOIN exr USING (qid, id)),
              nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
                     FROM q WHERE vec_id < 50)
              SELECT CAST(5 AS BIGINT) AS k, nq.n_queries, hits.n_hits,
                n_hits * 1000000 // (n_queries * 5) AS recall_ppm
              FROM hits, nq""")),

    QueryDef("x128_ivfpq_adc",
      // IVF-PQ (r11): the canonical billion-scale index shape — a
      // coarse quantizer routes each vector to a cell, PQ encodes the
      // RESIDUAL (vector − centroid), and a query probes nprobe cells
      // scoring only their rows by residual-ADC lookups. Everything
      // deterministic: seeded coarse centroids (the x110 rule), one
      // global residual codebook (seed groups over residuals), exact-
      // integer argmin encodings, and the pruning falls out of the
      // (cell, s, c) join key — no vector is read at search time. The
      // oracle replays centroids → assignment → residuals → codebook
      // → codes → probe ranking → ADC tables → the full top-5
      (s, d) => {
        val emb = embeddings(s, d)
        val cents = IvfAnn.seedCentroidsInt(emb, "vec_id", "embedding",
          nlist = 16)
        val cb = Pq.trainSeededResiduals(emb, "vec_id", "embedding",
          cents, m = 8, ncode = 16)
        Pq.topKIvfPq(emb, "vec_id", "embedding",
            emb.where(col("vec_id") < 20), "vec_id", "embedding",
            cents, cb, k = 5, nprobe = 4)
          .orderBy("qid", "rk")
      },
      Some("""WITH q AS (
                SELECT vec_id, list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                  AS qv
                FROM embeddings),
              cent AS (
                SELECT vec_id % 16 AS cell, CAST(t.d AS INT) AS d,
                  CAST(floor(CAST(sum(qv[CAST(t.d AS INT)]) AS DOUBLE)
                    / count(*) + 0.5) AS BIGINT) AS c
                FROM q, range(1, 65) t(d) GROUP BY 1, 2),
              dist AS (
                SELECT q.vec_id, ct.cell,
                  CAST(sum((q.qv[ct.d] - ct.c) * (q.qv[ct.d] - ct.c))
                    AS BIGINT) AS d2
                FROM q, cent ct GROUP BY 1, 2),
              asg AS (SELECT vec_id, cell FROM (
                  SELECT vec_id, cell, row_number() OVER (
                    PARTITION BY vec_id ORDER BY d2, cell) AS rn
                  FROM dist) WHERE rn = 1),
              res AS (
                SELECT q.vec_id, a.cell, ct.d, q.qv[ct.d] - ct.c AS rv
                FROM q JOIN asg a USING (vec_id)
                JOIN cent ct ON ct.cell = a.cell),
              rcw AS (
                SELECT CAST((r.d - 1) // 8 AS INT) AS s,
                  CAST(r.vec_id % 16 AS INT) AS c2, r.d,
                  CAST(floor(CAST(sum(r.rv) AS DOUBLE) / count(*) + 0.5)
                    AS BIGINT) AS w
                FROM res r GROUP BY 1, 2, 3),
              enc0 AS (
                SELECT r.vec_id, r.cell, w.s, w.c2,
                  sum((r.rv - w.w) * (r.rv - w.w)) AS d2
                FROM res r JOIN rcw w ON w.d = r.d GROUP BY 1, 2, 3, 4),
              enc AS (SELECT vec_id, cell, s, c2 FROM (
                  SELECT vec_id, cell, s, c2, row_number() OVER (
                    PARTITION BY vec_id, s ORDER BY d2, c2) AS rn
                  FROM enc0) WHERE rn = 1),
              probe AS (SELECT vec_id AS qid, cell FROM (
                  SELECT vec_id, cell, row_number() OVER (
                    PARTITION BY vec_id ORDER BY d2, cell) AS rn
                  FROM dist WHERE vec_id < 20) WHERE rn <= 4),
              qres AS (
                SELECT p.qid, p.cell, ct.d, q.qv[ct.d] - ct.c AS rq
                FROM probe p JOIN q ON q.vec_id = p.qid
                JOIN cent ct ON ct.cell = p.cell),
              dt AS (
                SELECT qr.qid, qr.cell, w.s, w.c2,
                  sum((qr.rq - w.w) * (qr.rq - w.w)) AS dist
                FROM qres qr JOIN rcw w ON w.d = qr.d GROUP BY 1, 2, 3, 4),
              adc AS (
                SELECT dt.qid, e.vec_id AS id, sum(dt.dist) AS adc
                FROM enc e JOIN dt ON dt.cell = e.cell AND dt.s = e.s
                  AND dt.c2 = e.c2
                GROUP BY 1, 2),
              ranked AS (SELECT qid, id, adc, row_number() OVER (
                  PARTITION BY qid ORDER BY adc, id) AS rk FROM adc)
              SELECT qid, CAST(rk AS INT) AS rk, id,
                CAST(adc AS BIGINT) AS adc
              FROM ranked WHERE rk <= 5 ORDER BY qid, rk""")),

    QueryDef("x129_ivfpq_recall",
      // the IVF-PQ tier's measured loss: two approximations compound
      // (unprobed cells hide true neighbors; 8-byte residual codes
      // blur distances) — one row (k, n_queries, n_hits, recall_ppm)
      // against the exact integer ranking, the number that sizes
      // nprobe and ncode before the tier serves retrieval
      (s, d) => {
        val emb = embeddings(s, d)
        val cents = IvfAnn.seedCentroidsInt(emb, "vec_id", "embedding",
          nlist = 16)
        val cb = Pq.trainSeededResiduals(emb, "vec_id", "embedding",
          cents, m = 8, ncode = 16)
        Pq.recallAuditIvfPq(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 50), "vec_id", "embedding",
          cents, cb, k = 5, nprobe = 4)
      },
      Some("""WITH q AS (
                SELECT vec_id, list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                  AS qv
                FROM embeddings),
              cent AS (
                SELECT vec_id % 16 AS cell, CAST(t.d AS INT) AS d,
                  CAST(floor(CAST(sum(qv[CAST(t.d AS INT)]) AS DOUBLE)
                    / count(*) + 0.5) AS BIGINT) AS c
                FROM q, range(1, 65) t(d) GROUP BY 1, 2),
              dist AS (
                SELECT q.vec_id, ct.cell,
                  CAST(sum((q.qv[ct.d] - ct.c) * (q.qv[ct.d] - ct.c))
                    AS BIGINT) AS d2
                FROM q, cent ct GROUP BY 1, 2),
              asg AS (SELECT vec_id, cell FROM (
                  SELECT vec_id, cell, row_number() OVER (
                    PARTITION BY vec_id ORDER BY d2, cell) AS rn
                  FROM dist) WHERE rn = 1),
              res AS (
                SELECT q.vec_id, a.cell, ct.d, q.qv[ct.d] - ct.c AS rv
                FROM q JOIN asg a USING (vec_id)
                JOIN cent ct ON ct.cell = a.cell),
              rcw AS (
                SELECT CAST((r.d - 1) // 8 AS INT) AS s,
                  CAST(r.vec_id % 16 AS INT) AS c2, r.d,
                  CAST(floor(CAST(sum(r.rv) AS DOUBLE) / count(*) + 0.5)
                    AS BIGINT) AS w
                FROM res r GROUP BY 1, 2, 3),
              enc0 AS (
                SELECT r.vec_id, r.cell, w.s, w.c2,
                  sum((r.rv - w.w) * (r.rv - w.w)) AS d2
                FROM res r JOIN rcw w ON w.d = r.d GROUP BY 1, 2, 3, 4),
              enc AS (SELECT vec_id, cell, s, c2 FROM (
                  SELECT vec_id, cell, s, c2, row_number() OVER (
                    PARTITION BY vec_id, s ORDER BY d2, c2) AS rn
                  FROM enc0) WHERE rn = 1),
              probe AS (SELECT vec_id AS qid, cell FROM (
                  SELECT vec_id, cell, row_number() OVER (
                    PARTITION BY vec_id ORDER BY d2, cell) AS rn
                  FROM dist WHERE vec_id < 50) WHERE rn <= 4),
              qres AS (
                SELECT p.qid, p.cell, ct.d, q.qv[ct.d] - ct.c AS rq
                FROM probe p JOIN q ON q.vec_id = p.qid
                JOIN cent ct ON ct.cell = p.cell),
              dt AS (
                SELECT qr.qid, qr.cell, w.s, w.c2,
                  sum((qr.rq - w.w) * (qr.rq - w.w)) AS dist
                FROM qres qr JOIN rcw w ON w.d = qr.d GROUP BY 1, 2, 3, 4),
              adc AS (
                SELECT dt.qid, e.vec_id AS id, sum(dt.dist) AS adc
                FROM enc e JOIN dt ON dt.cell = e.cell AND dt.s = e.s
                  AND dt.c2 = e.c2
                GROUP BY 1, 2),
              apr AS (SELECT qid, id FROM (
                  SELECT qid, id, row_number() OVER (
                    PARTITION BY qid ORDER BY adc, id) AS rk FROM adc)
                WHERE rk <= 5),
              ex0 AS (
                SELECT a.vec_id AS qid, b.vec_id AS id,
                  CAST(sum((a.qv[CAST(t.d AS INT)] - b.qv[CAST(t.d AS INT)])
                     * (a.qv[CAST(t.d AS INT)] - b.qv[CAST(t.d AS INT)]))
                    AS BIGINT) AS d2
                FROM q a, q b, range(1, 65) t(d) WHERE a.vec_id < 50
                GROUP BY 1, 2),
              exr AS (SELECT qid, id FROM (
                  SELECT qid, id, row_number() OVER (
                    PARTITION BY qid ORDER BY d2, id) AS rk FROM ex0)
                WHERE rk <= 5),
              hits AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
                       FROM apr JOIN exr USING (qid, id)),
              nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
                     FROM q WHERE vec_id < 50)
              SELECT CAST(5 AS BIGINT) AS k, nq.n_queries, hits.n_hits,
                n_hits * 1000000 // (n_queries * 5) AS recall_ppm
              FROM hits, nq""")),

    QueryDef("x132_pq_rerank",
      // the PQ recall REPAIR, measured as a curve (r11): exact
      // re-ranking of the ADC top-R candidates (Jégou §V.C) — the
      // codes pick R candidates cheaply, only those R vectors are
      // re-scored exactly, recall climbs toward 1 as R grows while
      // vector reads stay (queries × R). One row per R beside x127's
      // raw-ADC floor: the operating-point table a caller reads to
      // size the rerank knob, replacing a silently-accepted 0.27
      (s, d) => {
        val emb = embeddings(s, d)
        val cb = Pq.trainSeeded(emb, "vec_id", "embedding",
          m = 8, ncode = 16)
        val qs = emb.where(col("vec_id") < 50)
        Seq(10, 25, 50, 100).map { r =>
          Pq.rerankRecallAudit(emb, "vec_id", "embedding",
              qs, "vec_id", "embedding", cb, k = 5, rerank = r)
            .withColumn("rerank", lit(r.toLong))
        }.reduce(_.unionByName(_))
          .select(col("rerank"), col("k"), col("n_queries"),
            col("n_hits"), col("recall_ppm"))
          .orderBy("rerank")
      },
      Some("""WITH q AS (
                SELECT vec_id, list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                  AS qv
                FROM embeddings),
              cw AS (
                SELECT CAST((t.d - 1) // 8 AS INT) AS s,
                  CAST(vec_id % 16 AS INT) AS c, CAST(t.d AS INT) AS d,
                  CAST(floor(CAST(sum(qv[CAST(t.d AS INT)]) AS DOUBLE)
                    / count(*) + 0.5) AS BIGINT) AS w
                FROM q, range(1, 65) t(d) GROUP BY 1, 2, 3),
              enc0 AS (
                SELECT q.vec_id, cw.s, cw.c,
                  sum((q.qv[cw.d] - cw.w) * (q.qv[cw.d] - cw.w)) AS d2
                FROM q, cw GROUP BY 1, 2, 3),
              enc AS (SELECT vec_id, s, c FROM (
                  SELECT vec_id, s, c, row_number() OVER (
                    PARTITION BY vec_id, s ORDER BY d2, c) AS rn
                  FROM enc0) WHERE rn = 1),
              dt AS (
                SELECT qq.vec_id AS qid, cw.s, cw.c,
                  sum((qq.qv[cw.d] - cw.w) * (qq.qv[cw.d] - cw.w)) AS dist
                FROM q qq, cw WHERE qq.vec_id < 50 GROUP BY 1, 2, 3),
              adc AS (
                SELECT dt.qid, e.vec_id AS id, sum(dt.dist) AS adc
                FROM enc e JOIN dt ON dt.s = e.s AND dt.c = e.c
                GROUP BY 1, 2),
              ranked AS (SELECT qid, id, row_number() OVER (
                  PARTITION BY qid ORDER BY adc, id) AS rk FROM adc),
              ex0 AS (
                SELECT a.vec_id AS qid, b.vec_id AS id,
                  CAST(sum((a.qv[CAST(t.d AS INT)] - b.qv[CAST(t.d AS INT)])
                     * (a.qv[CAST(t.d AS INT)] - b.qv[CAST(t.d AS INT)]))
                    AS BIGINT) AS d2
                FROM q a, q b, range(1, 65) t(d) WHERE a.vec_id < 50
                GROUP BY 1, 2),
              exr AS (SELECT qid, id FROM (
                  SELECT qid, id, row_number() OVER (
                    PARTITION BY qid ORDER BY d2, id) AS rk FROM ex0)
                WHERE rk <= 5),
              rr AS (SELECT CAST(unnest([10, 25, 50, 100]) AS BIGINT)
                  AS rerank),
              cand AS (SELECT rr.rerank, r.qid, r.id
                       FROM rr, ranked r WHERE r.rk <= rr.rerank),
              resc AS (SELECT c.rerank, c.qid, c.id, e.d2
                       FROM cand c JOIN ex0 e
                         ON e.qid = c.qid AND e.id = c.id),
              rr5 AS (SELECT rerank, qid, id FROM (
                  SELECT rerank, qid, id, row_number() OVER (
                    PARTITION BY rerank, qid ORDER BY d2, id) AS rk
                  FROM resc) WHERE rk <= 5),
              hits AS (SELECT rerank, CAST(count(*) AS BIGINT) AS n_hits
                       FROM rr5 JOIN exr USING (qid, id) GROUP BY 1),
              nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
                     FROM q WHERE vec_id < 50)
              SELECT rr.rerank, CAST(5 AS BIGINT) AS k, nq.n_queries,
                CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                coalesce(h.n_hits, 0) * 1000000
                  // (nq.n_queries * 5) AS recall_ppm
              FROM rr LEFT JOIN hits h USING (rerank), nq
              ORDER BY rr.rerank""")),

    QueryDef("x123_grouped_quantiles",
      // per-SOURCE quantile estimates in ONE bounded pass (r11, the
      // grouped twin of x119): every source's doc-length quartiles +
      // p90 from per-group bottom-k value samples built by the native
      // BottomKLongs partial aggregate — the per-slice distribution
      // profile ("is crawl B's length distribution shifted vs A's?")
      // without sorting any group, at ≤ G·k sketch rows total. The
      // oracle replays the sketch membership, the value pull-back,
      // and the rank selection exactly
      (s, d) => {
        val base = documents(s, d).where(col("text").isNotNull)
        val sk = Kmv.groupedValueSketch(base, col("source"),
          col("doc_id").cast("string"), length(col("text")), k = 128)
        Kmv.groupedQuantileEstimate(sk,
            Seq(250000L, 500000L, 900000L))
          .orderBy("g", "q_ppm")
      },
      Some("""WITH base AS (
                SELECT source AS g,
                  CAST('0x' || substring(md5(
                    'kmvq:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv,
                  CAST(length(text) AS BIGINT) AS v
                FROM documents WHERE text IS NOT NULL),
              sk0 AS (SELECT g, hv FROM (
                  SELECT g, hv, row_number() OVER (
                    PARTITION BY g ORDER BY hv) AS rn
                  FROM (SELECT DISTINCT g, hv FROM base))
                WHERE rn <= 128),
              sk AS (SELECT s.g, s.hv, min(b.v) AS v
                     FROM sk0 s JOIN base b USING (g, hv)
                     GROUP BY 1, 2),
              rk AS (SELECT g, v, row_number() OVER (
                  PARTITION BY g ORDER BY v, hv) AS rk FROM sk),
              ns AS (SELECT g, count(*) AS n FROM sk GROUP BY 1),
              qs AS (SELECT CAST(unnest([250000, 500000, 900000])
                  AS BIGINT) AS q_ppm),
              tgt AS (SELECT n.g, q.q_ppm,
                  (q.q_ppm * (n.n - 1)) // 1000000 + 1 AS rk
                FROM ns n, qs q)
              SELECT t.g AS g, t.q_ppm, r.v AS est_v
              FROM tgt t JOIN rk r ON r.g = t.g AND r.rk = t.rk
              ORDER BY t.g, t.q_ppm""")),

    QueryDef("x131_bmp_pixels",
      // REAL BMP pixel decode (r11, the fourth real-decode leg):
      // complete 24-bit BMPs synthesized from the doc ids, decoded
      // through the bottom-up padded-scanline walk, exact integer
      // stats computed. With BMP, every non-entropy-coded format the
      // sniffer knows decodes for real; the oracle replays the stats
      // as id algebra — a padding/row-order/BGR defect breaks the
      // sums bit-for-bit
      (s, d) => Multimodal.bmpPixelStats(s,
          Multimodal.packRealBmps(s, documents(s, d)
            .where(col("doc_id") < 500).select(col("doc_id")), "doc_id"))
        .orderBy(col("media_id")),
      Some("""WITH imgs AS (
                SELECT doc_id AS id, doc_id % 12 + 4 AS w,
                  (doc_id * 3) % 9 + 4 AS h
                FROM documents WHERE doc_id < 500),
              px AS (
                SELECT id, w, h,
                  (id * 23 + x.x * 13 + y.y * 19) % 256 AS v
                FROM imgs, range(0, 16) x(x), range(0, 13) y(y)
                WHERE x.x < w AND y.y < h)
              SELECT id AS media_id, w AS width, h AS height,
                count(*) AS n_pixels,
                CAST(sum(v) AS BIGINT) AS sum_pixels,
                CAST(max(v) AS BIGINT) AS max_pixel,
                CAST(count(*) FILTER (v > 127) AS BIGINT) AS n_bright
              FROM px GROUP BY 1, 2, 3 ORDER BY media_id""")),

    QueryDef("x119_kmv_quantiles",
      // KMV VALUE SAMPLE → quantile estimates (r11): the bottom-k-by-
      // key-hash rows keep the value column, forming a uniform row
      // sample whose order statistics estimate the population's —
      // the quantile leg of the sketch stack (distribution profiling
      // of doc lengths at 100 TB without a global sort; the sketch is
      // 256 rows). Estimator = lower order statistic at floored-ppm
      // rank, pure integer algebra. The house discipline: the exact
      // quantiles ride along and the measured error ships with the
      // estimate (err_ppm)
      (s, d) => {
        val base = documents(s, d).where(col("text").isNotNull)
          .select(col("doc_id").cast("string").as("k"),
            length(col("text")).cast("long").as("v"))
        val qs = Seq(100000L, 250000L, 500000L, 750000L, 900000L)
        val est = Kmv.quantileEstimate(
          Kmv.valueSketch(base, col("k"), col("v"), k = 256), qs)
        // the audit tier: the same index algebra over the FULL
        // relation (one global sort — this is the measured-loss
        // oracle, not the serving path)
        val exact = Kmv.quantileEstimate(base, qs)
          .withColumnRenamed("est_v", "exact_v")
        est.join(exact, Seq("q_ppm"))
          .select(col("q_ppm"), col("est_v"), col("exact_v"),
            expr("""abs(est_v - exact_v) * CAST(1000000 AS BIGINT)
              DIV greatest(exact_v, CAST(1 AS BIGINT))""").as("err_ppm"))
          .orderBy("q_ppm")
      },
      Some("""WITH base AS (
                SELECT CAST('0x' || substring(md5(
                    'kmvq:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv,
                  CAST(length(text) AS BIGINT) AS v
                FROM documents WHERE text IS NOT NULL),
              sk AS (SELECT v FROM base ORDER BY hv, v LIMIT 256),
              qs AS (SELECT CAST(unnest([100000, 250000, 500000,
                  750000, 900000]) AS BIGINT) AS q_ppm),
              srk AS (SELECT v, row_number() OVER (ORDER BY v) AS rk
                      FROM sk),
              sn AS (SELECT count(*) AS n FROM sk),
              est AS (SELECT q.q_ppm, s.v AS est_v
                      FROM qs q, sn, srk s
                      WHERE s.rk = (q.q_ppm * (sn.n - 1)) // 1000000 + 1),
              erk AS (SELECT v, row_number() OVER (ORDER BY v) AS rk
                      FROM base),
              en AS (SELECT count(*) AS n FROM base),
              ex AS (SELECT q.q_ppm, e.v AS exact_v
                     FROM qs q, en, erk e
                     WHERE e.rk = (q.q_ppm * (en.n - 1)) // 1000000 + 1)
              SELECT est.q_ppm AS q_ppm, est_v, exact_v,
                abs(est_v - exact_v) * 1000000
                  // greatest(exact_v, 1) AS err_ppm
              FROM est JOIN ex ON est.q_ppm = ex.q_ppm
              ORDER BY q_ppm""")),

    QueryDef("x111_pca_moments",
      // distributed PCA, the corpus-scale half (r10): the exact
      // integer second-moment state of the ×1000-quantized embedding
      // corpus — n, per-dim sums, the Gram upper triangle — built by
      // per-partition Long accumulation (order-free, bit-identical
      // under any layout, model-sized: 2,145 longs for 64 dims). The
      // eigen/projection half consumes this state on the driver
      // (Pca.fit/project — spec-verified properties; doubles are not
      // hash-comparable). Output: the state's identifying cells,
      // every one an exact Long the oracle re-derives
      (s, d) => {
        val st = Pca.momentState(embeddings(s, d), "embedding")
        def gAt(i: Int, j: Int): Long = // (i,j) i<=j in the packed triangle
          st.g(i * st.dim - i * (i - 1) / 2 + (j - i))
        val trace = (0 until st.dim).map(i => gAt(i, i)).sum
        val sess = s
        import sess.implicits._
        Seq((st.n, st.dim, st.s(0), st.s(1), gAt(0, 0), gAt(0, 1), trace))
          .toDF("n", "dim", "s0", "s1", "g00", "g01", "g_trace")
      },
      Some("""WITH q AS (
                SELECT list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
                FROM embeddings
                WHERE embedding IS NOT NULL AND len(embedding) = 64)
              SELECT CAST(count(*) AS BIGINT) AS n, CAST(64 AS INT) AS dim,
                CAST(sum(qv[1]) AS BIGINT) AS s0,
                CAST(sum(qv[2]) AS BIGINT) AS s1,
                CAST(sum(qv[1] * qv[1]) AS BIGINT) AS g00,
                CAST(sum(qv[1] * qv[2]) AS BIGINT) AS g01,
                CAST(sum(list_sum(list_transform(qv, x -> x * x)))
                  AS BIGINT) AS g_trace
              FROM q""")),

    // ===================================== transactional tables (TxLog)
    QueryDef("x147_tx_snapshot",
      // the TRANSACTIONAL table layer (r12 — the multi-writer gap the
      // single-writer Lease leaves open): three concurrent-
      // safe APPEND commits land through the atomic manifest claim and
      // a snapshot-isolated read folds the log back to exactly the
      // union — every row byte-accounted via md5 against the source
      // table, so one lost/duplicated commit or misfolded manifest
      // diverges. The log is metadata-sized; data dirs are immutable
      // parquet the read plans directly
      (s, d) => {
        val root = freshTxRoot(s, "snap", d)
        val doc = txDocs(s, d)
        (0 until 3).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") % 3 === k), Some("doc_id")))
        TxLog.snapshot(s, root)
          .select(col("doc_id"), md5(col("text")).as("digest"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(text) AS digest
              FROM documents WHERE doc_id < 2000 ORDER BY doc_id""")),

    QueryDef("x148_tx_time_travel",
      // TIME TRAVEL: the same fold stopped at version 2 — the third
      // commit's rows must be invisible even though they are on disk.
      // Historical versions are first-class reads (audits, repro,
      // incremental consumers), not a recovery path
      (s, d) => {
        val root = freshTxRoot(s, "travel", d)
        val doc = txDocs(s, d)
        (0 until 3).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") % 3 === k), Some("doc_id")))
        TxLog.snapshot(s, root, asOf = Some(2))
          .select(col("doc_id"), md5(col("text")).as("digest"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(text) AS digest
              FROM documents WHERE doc_id < 2000 AND doc_id % 3 < 2
              ORDER BY doc_id""")),

    QueryDef("x149_tx_rewrite",
      // OPTIMISTIC REWRITE vs a mid-flight append: the rewrite reads
      // its snapshot, an APPEND commits underneath it (claim
      // collision), and the rewrite retries past it removing ONLY the
      // inputs it read — the interleaved append's rows survive next
      // to the filtered rewrite output. This is the compaction-vs-
      // ingest interleaving a multi-writer lake runs daily
      (s, d) => {
        val root = freshTxRoot(s, "rw", d)
        TxLog.append(s, root, txDocs(s, d), Some("doc_id"))
        TxLog.rewrite(s, root, Some("doc_id")) { snap =>
          TxLog.append(s, root,
            documents(s, d)
              .where(col("doc_id") >= 2000 && col("doc_id") < 2400)
              .select(col("doc_id"), col("text")), Some("doc_id"))
          snap.where(length(col("text")) >= 200)
        }
        TxLog.snapshot(s, root)
          .select(col("doc_id"), length(col("text")).as("n_len"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(length(text) AS INT) AS n_len
              FROM documents
              WHERE (doc_id < 2000 AND length(text) >= 200)
                 OR (doc_id >= 2000 AND doc_id < 2400)
              ORDER BY doc_id""")),

    QueryDef("x150_tx_cdc",
      // CDC over the commit log: the row-level delta of versions
      // (1, 4] — the two later appends stream as inserts, the rewrite
      // as delete-all + re-insert of the filtered survivors (the
      // honest physical delta). Incremental consumers (downstream
      // index builds, the intake journeys) read THIS instead of
      // re-scanning the table
      (s, d) => {
        val root = freshTxRoot(s, "cdc", d)
        val doc = txDocs(s, d)
        (0 until 3).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") % 3 === k), Some("doc_id")))
        TxLog.rewrite(s, root, Some("doc_id"))(
          _.where(length(col("text")) >= 200))
        TxLog.changes(s, root, fromV = 1, toV = 4)
          .select(col("__version").as("version"),
            col("__change").as("change"), col("doc_id"))
          .orderBy("version", "change", "doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000)
              SELECT CAST(2 AS BIGINT) AS version, 'insert' AS change,
                doc_id FROM d WHERE doc_id % 3 = 1
              UNION ALL
              SELECT 3, 'insert', doc_id FROM d WHERE doc_id % 3 = 2
              UNION ALL
              SELECT 4, 'delete', doc_id FROM d
              UNION ALL
              SELECT 4, 'insert', doc_id FROM d WHERE length(text) >= 200
              ORDER BY version, change, doc_id""")),

    QueryDef("x151_tx_skipping",
      // MANIFEST-LEVEL FILE SKIPPING: each commit records min/max of
      // the key from the bytes it committed, and a [500, 900) range
      // read prunes whole data dirs BEFORE Spark plans the scan
      // (x122's z-order model one level up: the manifest skips dirs,
      // row groups skip pages below). Stat-less dirs (the empty
      // buckets at small SFs) can never be pruned and stay scanned —
      // the oracle replays the per-bucket stats AND the prune
      // decision from the raw table
      (s, d) => {
        val root = freshTxRoot(s, "skip", d)
        val doc = txDocs(s, d)
        (0 until 10).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") >= k * 200 && col("doc_id") < (k + 1) * 200),
          Some("doc_id")))
        TxLog.pruneAudit(s, root, "doc_id", 500, 900).orderBy("min_key")
      },
      Some("""WITH b AS (SELECT k.k AS k FROM range(0, 10) k(k)),
              g AS (SELECT doc_id // 200 AS k, count(*) AS c,
                      min(doc_id) AS mn, max(doc_id) AS mx
                    FROM documents WHERE doc_id < 2000 GROUP BY 1)
              SELECT coalesce(g.c, 0) AS n_rows, g.mn AS min_key,
                g.mx AS max_key,
                CASE WHEN g.mn IS NULL THEN true
                  ELSE g.mn < 900 AND g.mx >= 500 END AS scanned
              FROM b LEFT JOIN g ON b.k = g.k
              ORDER BY min_key""")),

    QueryDef("x155_tx_idempotent",
      // REPLAY-SAFE intake through the txn token (Delta's
      // SetTransaction pattern — the foreachBatch sink contract): the
      // middle batch is delivered TWICE (the crash-replay a streaming
      // producer actually does) and commits exactly once, so the
      // snapshot equals the plain union — byte-accounted via md5. The
      // replay's pre-written data dir is an invisible orphan vacuum
      // reclaims
      (s, d) => {
        val root = freshTxRoot(s, "idem", d)
        val doc = txDocs(s, d)
        (0 until 3).foreach { k =>
          TxLog.appendIdempotent(s, root,
            doc.where(col("doc_id") % 3 === k), "intake", k + 1L,
            Some("doc_id"))
          if (k == 1) TxLog.appendIdempotent(s, root, // the replay
            doc.where(col("doc_id") % 3 === k), "intake", k + 1L,
            Some("doc_id"))
        }
        TxLog.snapshot(s, root)
          .select(col("doc_id"), md5(col("text")).as("digest"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(text) AS digest
              FROM documents WHERE doc_id < 2000 ORDER BY doc_id""")),

    QueryDef("x156_tx_optimize",
      // OPTIMIZE with range re-clustering (the Delta OPTIMIZE
      // analogue, r12): arrival-order appends each span the whole key
      // range (id % 5 slices here), so manifest stats prune NOTHING —
      // one transactional rewrite re-clusters the snapshot into fixed-
      // width key buckets (one pass, one shuffle, each bucket its own
      // AddFile with tight min/max) and range reads prune again. The
      // oracle replays the bucket arithmetic (width = ceil(span/8))
      // and every stat + prune decision from the raw table
      (s, d) => {
        val root = freshTxRoot(s, "opt", d)
        val doc = txDocs(s, d)
        (0 until 5).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") % 5 === k), Some("doc_id")))
        TxLog.optimizeRange(s, root, "doc_id", buckets = 8)
        TxLog.pruneAudit(s, root, "doc_id", 500, 900).orderBy("min_key")
      },
      Some("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
              r AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM d),
              w AS (SELECT mn, greatest(1, (mx - mn + 8) // 8) AS width
                    FROM r),
              b AS (SELECT (doc_id - mn) // width AS k, doc_id
                    FROM d, w),
              g AS (SELECT k, count(*) AS c, min(doc_id) AS mnk,
                      max(doc_id) AS mxk
                    FROM b GROUP BY 1)
              SELECT c AS n_rows, mnk AS min_key, mxk AS max_key,
                (mnk < 900 AND mxk >= 500) AS scanned
              FROM g ORDER BY min_key""")),

    // ================================ learned classifier (Naive Bayes)
    QueryDef("x158_tx_history",
      // the table's own audit trail as DATA (DESCRIBE HISTORY): every
      // commit's action, add/remove footprint, committed rows, and
      // producer token — from manifests alone, no data read. Built by
      // two plain appends, one idempotent append WITH its replay
      // (absent from history — at-most-once means the replay never
      // became a commit), and a rewrite (delete-all + re-add
      // footprint visible). The oracle re-derives every row count
      // from the raw table
      (s, d) => {
        val root = freshTxRoot(s, "hist", d)
        val doc = txDocs(s, d)
        TxLog.append(s, root, doc.where(col("doc_id") % 3 === 0),
          Some("doc_id"))
        TxLog.append(s, root, doc.where(col("doc_id") % 3 === 1),
          Some("doc_id"))
        TxLog.appendIdempotent(s, root, doc.where(col("doc_id") % 3 === 2),
          "intake", 7L, Some("doc_id"))
        TxLog.appendIdempotent(s, root, doc.where(col("doc_id") % 3 === 2),
          "intake", 7L, Some("doc_id")) // replay: no new history row
        TxLog.rewrite(s, root, Some("doc_id"))(
          _.where(length(col("text")) >= 200))
        TxLog.history(s, root).orderBy("version")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000)
              SELECT CAST(1 AS BIGINT) AS version, 'append' AS action,
                CAST(1 AS BIGINT) AS n_adds,
                (SELECT count(*) FROM d WHERE doc_id % 3 = 0) AS rows_added,
                CAST(0 AS BIGINT) AS n_removes,
                CAST(NULL AS VARCHAR) AS txn_app,
                CAST(NULL AS BIGINT) AS txn_batch
              UNION ALL
              SELECT 2, 'append', 1,
                (SELECT count(*) FROM d WHERE doc_id % 3 = 1), 0,
                NULL, NULL
              UNION ALL
              SELECT 3, 'append', 1,
                (SELECT count(*) FROM d WHERE doc_id % 3 = 2), 0,
                'intake', 7
              UNION ALL
              SELECT 4, 'rewrite', 1,
                (SELECT count(*) FROM d WHERE length(text) >= 200), 3,
                NULL, NULL
              ORDER BY version""")),

    QueryDef("x157_logit_train",
      // ITERATIVE gradient training in exact algebra (r12): 3 batch-GD
      // steps of hard-sigmoid logistic regression — weights in Long
      // micro-units, the piecewise-linear activation
      // p_ppm = (clamp(z, ±2e6) + 2e6) >> 2 (no transcendentals),
      // gradients as order-free integer sums, floor-division updates.
      // The oracle replays ALL THREE iterations unrolled — every
      // weight of every step is compared, so one wrong gradient term,
      // clamp bound, or division rounding anywhere in the cascade
      // diverges. Per step: one pinned-projection scan + a 1-row agg
      (s, d) => {
        val doc = documents(s, d).where(col("doc_id") < 2000)
        val y = when(col("lang") === "en", 1000000L).otherwise(0L)
        val x1 = least(TextAnalysis.tokenCount(col("text")), lit(200)) - 50
        val x2 = least(expr("length(text) DIV 10"), lit(60)) - 30
        Sampling.hardLogitTrain(doc, y, Seq(lit(1L), x1, x2),
            iters = 3, etaDen = 1000)
          .orderBy("iter", "i")
      },
      Some(s"""WITH $logitOracleCtes
              SELECT CAST(1 AS INT) AS iter, CAST(0 AS INT) AS i,
                CAST(a AS BIGINT) AS w_unats FROM wa
              UNION ALL SELECT 1, 1, b FROM wa
              UNION ALL SELECT 1, 2, c FROM wa
              UNION ALL SELECT 2, 0, a FROM wb
              UNION ALL SELECT 2, 1, b FROM wb
              UNION ALL SELECT 2, 2, c FROM wb
              UNION ALL SELECT 3, 0, a FROM wc
              UNION ALL SELECT 3, 1, b FROM wc
              UNION ALL SELECT 3, 2, c FROM wc
              ORDER BY iter, i""")),

    QueryDef("x159_logit_score",
      // the trained linear probe APPLIED as a corpus gate: every doc
      // scored under the 3-step weights with the same exact activation
      // (train and serve share one arithmetic — no train/serve skew
      // possible), `kept` at the 0.5 boundary. Map-only over the
      // corpus with a driver-held weight vector; the oracle replays
      // training AND scoring end to end
      (s, d) => {
        val sess = s
        import sess.implicits._
        val doc = documents(s, d).where(col("doc_id") < 2000)
        val y = when(col("lang") === "en", 1000000L).otherwise(0L)
        val x1 = least(TextAnalysis.tokenCount(col("text")), lit(200)) - 50
        val x2 = least(expr("length(text) DIV 10"), lit(60)) - 30
        val xs = Seq(lit(1L), x1, x2)
        val w = Sampling.hardLogitTrain(doc, y, xs, iters = 3,
            etaDen = 1000)
          .where(col("iter") === 3).orderBy("i")
          .select("w_unats").as[Long].collect().toSeq
        Sampling.hardLogitScore(doc, xs, w)
          .select(col("doc_id"), col("score_ppm"), col("kept"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $logitOracleCtes
              SELECT ft.doc_id,
                (greatest(-2000000, least(2000000,
                   wc.a * ft.x0 + wc.b * ft.x1 + wc.c * ft.x2))
                 + 2000000) // 4 AS score_ppm,
                (greatest(-2000000, least(2000000,
                   wc.a * ft.x0 + wc.b * ft.x1 + wc.c * ft.x2))
                 + 2000000) // 4 >= 500000 AS kept
              FROM ft, wc ORDER BY doc_id""")),

    QueryDef("x152_nb_model",
      // the LEARNED quality/langid filter, training half (r12):
      // multinomial Naive Bayes over the hashed bag-of-ngrams
      // features — the fastText-style seed-classifier pattern (GPT-3
      // quality filter, CCNet langid) in exact algebra. Trained on
      // the even-doc slice labeled by `lang`; the model is the full
      // (labels × buckets) grid of add-one-smoothed log-likelihoods
      // in Long micro-nats plus per-label log-priors (bucket = -1).
      // Model-sized output; the oracle re-derives every cell from the
      // raw text
      (s, d) => {
        val doc = documents(s, d)
        Sampling.nbModel(Sampling.nbState(
            doc.where(col("doc_id") % 2 === 0), "lang", "text"))
          .orderBy("label", "bucket")
      },
      Some(s"""WITH $nbOracleCtes
              SELECT lang AS label, bucket, lp AS lp_unats FROM model
              UNION ALL
              SELECT lang, -1, lp FROM pri
              ORDER BY label, bucket""")),

    QueryDef("x153_nb_classify",
      // the classify half: held-out odd docs scored under the frozen
      // even-doc model — per doc, exact integer `prior + Σ lp` per
      // label and a max-of-struct argmax (no window, no sort; ties
      // break toward the larger label both sides). One batch scan +
      // a broadcast model join + one per-doc hash agg — the shape
      // that filters 100 TB with a model trained on a seed set
      (s, d) => {
        val doc = documents(s, d)
        val m = Sampling.nbModel(Sampling.nbState(
          doc.where(col("doc_id") % 2 === 0), "lang", "text"))
        Sampling.nbClassify(doc.where(col("doc_id") % 2 === 1), m,
            "doc_id", "text")
          .select(col("doc_id"), col("lang").as("actual"),
            col("predicted"), col("score_unats"), col("n_feats"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $nbClassifyCtes
              SELECT doc_id, actual, predicted, score_unats, n_feats
              FROM pred ORDER BY doc_id"""),
      headline = true),

    QueryDef("x154_nb_confusion",
      // the measured-loss audit for the learned tier (the x62/x102
      // rule: every lossy operator ships its accuracy audit): the
      // held-out confusion matrix — actual × predicted counts — is
      // what decides whether the seed classifier is good enough to
      // gate a corpus. Group-count-sized output. On THIS synthetic
      // corpus it reads 0.436 vs a 0.43 majority base rate — i.e.
      // "the lang labels carry no token signal here, do not gate on
      // this model": the audit doing its job
      (s, d) => {
        val doc = documents(s, d)
        val m = Sampling.nbModel(Sampling.nbState(
          doc.where(col("doc_id") % 2 === 0), "lang", "text"))
        Sampling.nbClassify(doc.where(col("doc_id") % 2 === 1), m,
            "doc_id", "text")
          .groupBy(col("lang").as("actual"), col("predicted"))
          .agg(count(lit(1)).as("n"))
          .orderBy("actual", "predicted")
      },
      Some(s"""WITH $nbClassifyCtes
              SELECT actual, predicted, count(*) AS n
              FROM pred GROUP BY 1, 2
              ORDER BY actual, predicted""")),

    QueryDef("x160_tx_merge",
      // KEYED MERGE/upsert (r13 — the first thing a lakehouse user
      // does after append; the reference's K5 first-write-wins staging
      // is upsert-shaped): one change batch updates every %10==3 doc
      // (uppercased text), deletes every %10==7, and inserts fresh
      // keys (+10000) — applied as a manifest-stats-pruned rewrite of
      // only the dirs that can hold batch keys. The snapshot is
      // byte-accounted via md5 against the oracle's replay of the
      // merged state, so one lost update, surviving deleted row, or
      // dropped insert diverges
      (s, d) => {
        val root = freshTxRoot(s, "merge", d)
        val doc = txDocs(s, d)
        (0 until 4).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") >= k * 500 && col("doc_id") < (k + 1) * 500),
          Some("doc_id")))
        val batch = doc.where(col("doc_id") % 10 === 3)
            .select(col("doc_id"), upper(col("text")).as("text"),
              lit(false).as("__del"))
          .unionByName(doc.where(col("doc_id") % 10 === 7)
            .select(col("doc_id"), col("text"), lit(true).as("__del")))
          .unionByName(doc.where(col("doc_id") % 10 === 1)
            .select((col("doc_id") + 10000L).as("doc_id"), col("text"),
              lit(false).as("__del")))
        TxLog.merge(s, root, batch, "doc_id", deleteCol = Some("__del"))
        TxLog.snapshot(s, root)
          .select(col("doc_id"), md5(col("text")).as("digest"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000)
              SELECT doc_id, md5(text) AS digest FROM (
                SELECT doc_id,
                  CASE WHEN doc_id % 10 = 3 THEN upper(text)
                    ELSE text END AS text
                FROM d WHERE doc_id % 10 <> 7
                UNION ALL
                SELECT doc_id + 10000, text FROM d WHERE doc_id % 10 = 1)
              ORDER BY doc_id""")),

    QueryDef("x161_tx_evolve",
      // SCHEMA EVOLUTION (r13 — the reference's gold schema is dynamic
      // by design: a new pollutant column is the NORMAL event, SURVEY
      // §1.3): generation A lands (doc_id, n_len INT); an explicit
      // evolveSchema widens n_len to BIGINT and adds lang; generation
      // B lands in the new shape. ONE snapshot reads both generations
      // — old dirs under their own physical schema, widened exactly,
      // added column null-backfilled — and the oracle replays the
      // aligned union from the raw table
      (s, d) => {
        val root = freshTxRoot(s, "evolve", d)
        val doc = documents(s, d).where(col("doc_id") < 2000)
        TxLog.append(s, root, doc.where(col("doc_id") % 2 === 0)
          .select(col("doc_id"), length(col("text")).cast("int").as("n_len")),
          Some("doc_id"))
        TxLog.evolveSchema(s, root, "doc_id BIGINT, n_len BIGINT, lang STRING")
        TxLog.append(s, root, doc.where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), length(col("text")).cast("long").as("n_len"),
            col("lang")),
          Some("doc_id"))
        TxLog.snapshot(s, root)
          .select(col("doc_id"), col("n_len"),
            coalesce(col("lang"), lit("-")).as("lang"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_len,
                CASE WHEN doc_id % 2 = 1 THEN lang ELSE '-' END AS lang
              FROM documents WHERE doc_id < 2000 ORDER BY doc_id""")),

    QueryDef("x162_tx_multiprune",
      // MULTI-COLUMN manifest stats (r13): each append records min/max
      // for BOTH doc_id and n_len in one in-write metric set, and the
      // prune audit runs on the SECOND column — the x151 shape one
      // axis over (the z-order x122 layout clusters two dims; the
      // manifest should prune on each). Stats now travel with their
      // column name, so a read on n_len prunes only off n_len stats —
      // never off a doc_id range that happens to intersect
      (s, d) => {
        val root = freshTxRoot(s, "mprune", d)
        val doc = documents(s, d).where(col("doc_id") < 2000)
          .select(col("doc_id"), col("text"),
            length(col("text")).cast("long").as("n_len"))
        (0 until 10).foreach(k => TxLog.appendCols(s, root,
          doc.where(col("doc_id") >= k * 200 && col("doc_id") < (k + 1) * 200),
          Seq("doc_id", "n_len")))
        TxLog.pruneAudit(s, root, "n_len", 100, 300).orderBy("min_key")
      },
      Some("""WITH b AS (SELECT k.k AS k FROM range(0, 10) k(k)),
              g AS (SELECT doc_id // 200 AS k, count(*) AS c,
                      min(length(text)) AS mn, max(length(text)) AS mx
                    FROM documents WHERE doc_id < 2000 GROUP BY 1)
              SELECT coalesce(g.c, 0) AS n_rows,
                CAST(g.mn AS BIGINT) AS min_key,
                CAST(g.mx AS BIGINT) AS max_key,
                CASE WHEN g.mn IS NULL THEN true
                  ELSE g.mn < 300 AND g.mx >= 100 END AS scanned
              FROM b LEFT JOIN g ON b.k = g.k
              ORDER BY min_key""")),

    QueryDef("x163_cdc_merge_rebuild",
      // CDC→MERGE composition (r13 — the materialized-view maintenance
      // pattern; the r12 CDC→NB composition one layer up): a source
      // table takes two appends and a rewrite; a SECOND table is
      // maintained purely by replaying the source's per-version CDC
      // windows through keyed MERGE (per key, latest version wins;
      // within a version insert beats delete — a rewrite streams
      // delete-all + re-insert). Incremental apply must equal the
      // one-shot state, byte-accounted via md5
      (s, d) => {
        val rootA = freshTxRoot(s, "cmsrc", d)
        val rootB = freshTxRoot(s, "cmdst", d)
        val doc = txDocs(s, d)
        TxLog.append(s, rootA, doc.where(col("doc_id") % 2 === 0),
          Some("doc_id"))
        TxLog.append(s, rootA, doc.where(col("doc_id") % 2 === 1),
          Some("doc_id"))
        TxLog.rewrite(s, rootA, Some("doc_id"))(
          _.where(length(col("text")) >= 200))
        (1L to TxLog.latestVersion(s, rootA)).foreach { v =>
          val delta = TxLog.changes(s, rootA, v - 1, v)
          val batch = delta.groupBy("doc_id")
            .agg(max(struct(col("__version"),
              (col("__change") === "insert").cast("int").as("ins"),
              col("text"))).as("m"))
            .select(col("doc_id"), col("m.text").as("text"),
              (col("m.ins") === 0).as("__del"))
          TxLog.merge(s, rootB, batch, "doc_id", deleteCol = Some("__del"))
        }
        TxLog.snapshot(s, rootB)
          .select(col("doc_id"), md5(col("text")).as("digest"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(text) AS digest
              FROM documents WHERE doc_id < 2000 AND length(text) >= 200
              ORDER BY doc_id""")),

    QueryDef("x164_jpeg_dims",
      // JPEG dimensions via the SOF MARKER WALK (r13 — the majority
      // crawl format's metadata gap closed; no entropy decoding):
      // payloads carry genuine SOI + JFIF APP0 + an id-LENGTH-VARYING
      // COM segment + SOF0, so the codegen'd segment walk is exercised
      // at 29 different hop alignments, and the oracle replays
      // dims + total length from the id algebra alone —
      // parse(synthesize(dims)) == dims, the x100 pattern
      (s, d) => {
        val packed = Multimodal.packFakeJpegs(
          documents(s, d).where(col("doc_id") < 400), "doc_id")
        packed.select(col("media_id"),
            Multimodal.sniffFormat(col("media")).as("fmt"),
            Multimodal.imageDims(col("media")).getField("width").as("width"),
            Multimodal.imageDims(col("media")).getField("height").as("height"),
            length(col("media")).cast("long").as("n_bytes"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, 'jpeg' AS fmt,
                doc_id % 3000 + 16 AS width,
                (doc_id * 7) % 2000 + 16 AS height,
                CAST(45 + doc_id % 29 AS BIGINT) AS n_bytes
              FROM documents WHERE doc_id < 400 ORDER BY media_id""")),

    QueryDef("x165_tx_tombstone",
      // TOMBSTONE deletion vectors (r13 — the takedown that costs
      // KILOBYTES, not a rewrite: Delta DV / Iceberg equality-delete
      // reduced to key equality): a key list masks every pre-existing
      // copy at read time (no data dir is touched), and a LATER append
      // of a masked key resurrects it — its dir postdates the mask.
      // The snapshot is byte-accounted via md5: a row surviving the
      // mask, a lost resurrection, or a mask leaking onto the new
      // generation all diverge
      (s, d) => {
        val root = freshTxRoot(s, "dv", d)
        val doc = txDocs(s, d)
        (0 until 4).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") >= k * 500 && col("doc_id") < (k + 1) * 500),
          Some("doc_id")))
        TxLog.tombstone(s, root,
          doc.where(col("doc_id") % 7 === 2).select("doc_id"), "doc_id")
        TxLog.append(s, root,
          doc.where(col("doc_id") % 7 === 2 && col("doc_id") < 500)
            .select(col("doc_id"), upper(col("text")).as("text")),
          Some("doc_id"))
        TxLog.snapshot(s, root)
          .select(col("doc_id"), md5(col("text")).as("digest"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000)
              SELECT doc_id, md5(text) AS digest FROM (
                SELECT doc_id, text FROM d WHERE doc_id % 7 <> 2
                UNION ALL
                SELECT doc_id, upper(text) FROM d
                WHERE doc_id % 7 = 2 AND doc_id < 500)
              ORDER BY doc_id""")),

    QueryDef("x166_tx_dv_compact",
      // the tombstone LIFECYCLE closes at the next rewrite: an
      // optimizeRange reads the MASKED snapshot, so it materializes
      // the mask physically (the tombstone goes inert and drops from
      // the fold; vacuum reclaims its key dir — spec-pinned). The
      // prune audit's per-bucket PHYSICAL row counts and stats replay
      // from the survivor set alone — a masked row leaking into the
      // re-clustered layout diverges every downstream bucket stat
      (s, d) => {
        val root = freshTxRoot(s, "dvc", d)
        val doc = txDocs(s, d)
        (0 until 4).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") >= k * 500 && col("doc_id") < (k + 1) * 500),
          Some("doc_id")))
        TxLog.tombstone(s, root,
          doc.where(col("doc_id") % 3 === 1).select("doc_id"), "doc_id")
        TxLog.optimizeRange(s, root, "doc_id", buckets = 8)
        TxLog.pruneAudit(s, root, "doc_id", 0, 4000).orderBy("min_key")
      },
      Some("""WITH d AS (SELECT doc_id FROM documents
                         WHERE doc_id < 2000 AND doc_id % 3 <> 1),
              r AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM d),
              w AS (SELECT mn, greatest(1, (mx - mn + 8) // 8) AS width
                    FROM r),
              b AS (SELECT (doc_id - mn) // width AS k, doc_id
                    FROM d, w),
              g AS (SELECT k, count(*) AS c, min(doc_id) AS mnk,
                      max(doc_id) AS mxk
                    FROM b GROUP BY 1)
              SELECT c AS n_rows, mnk AS min_key, mxk AS max_key,
                (mnk < 4000 AND mxk >= 0) AS scanned
              FROM g ORDER BY min_key""")),

    QueryDef("x167_tx_zorder",
      // Z-ORDER OPTIMIZE on a tx table (r13 — x122's layout model
      // composed with the commit log and the named multi-column
      // stats): arrival-order appends each span both dims, so nothing
      // prunes; one transactional z-order rewrite re-clusters the
      // snapshot into Morton-range buckets, each committing tight
      // min/max for BOTH doc_id and n_len — and a 2-D box read
      // (snapshotRangeMulti) prunes on both through the manifest
      // (TxLogSpec pins that each dim alone prunes buckets, which a
      // single-key layout cannot do). The read is byte-accounted: a
      // row leaked or lost by the re-cluster + mask-free fold diverges
      (s, d) => {
        val root = freshTxRoot(s, "zo", d)
        val doc = documents(s, d).where(col("doc_id") < 2000)
          .select(col("doc_id"), col("text"),
            length(col("text")).cast("long").as("n_len"))
        (0 until 4).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") % 4 === k), Some("doc_id")))
        TxLog.optimizeZOrder(s, root, "doc_id", "n_len", buckets = 16)
        TxLog.snapshotRangeMulti(s, root,
            Seq(("doc_id", 200L, 900L), ("n_len", 100L, 400L)))
          .select(col("doc_id"), col("n_len"), md5(col("text")).as("digest"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_len,
                md5(text) AS digest
              FROM documents
              WHERE doc_id >= 200 AND doc_id < 900
                AND length(text) >= 100 AND length(text) < 400
                AND doc_id < 2000
              ORDER BY doc_id""")),

    QueryDef("x168_tx_constraints",
      // CHECK constraints (r13 — the write-time data contract beside
      // the schema pin; Delta's CHECK/CheckInvariant shape): add three,
      // drop one, read the live set back through the fold (including
      // across the metadata commits). Enforcement itself is spec-
      // pinned (TxLogSpec: a violating append fails MID-WRITE naming
      // the rule and commits nothing; existing violations block the
      // pin with their count) — this row pins the metadata lifecycle
      // the way x158 pins history
      (s, d) => {
        import s.implicits._
        val root = freshTxRoot(s, "check", d)
        TxLog.append(s, root, txDocs(s, d), Some("doc_id"))
        TxLog.addConstraint(s, root, "doc_id_nonneg", "doc_id >= 0")
        TxLog.addConstraint(s, root, "text_present", "text IS NOT NULL")
        TxLog.addConstraint(s, root, "doc_id_bound", "doc_id < 1000000")
        TxLog.dropConstraint(s, root, "text_present")
        TxLog.constraints(s, root).toDF("name", "expr").orderBy("name")
      },
      Some("""SELECT * FROM (VALUES
                ('doc_id_bound', 'doc_id < 1000000'),
                ('doc_id_nonneg', 'doc_id >= 0')) AS t(name, expr)
              ORDER BY name""")),

    QueryDef("x169_domain_reweight",
      // DOMAIN REWEIGHTING (r13 — the DoReMi multiplicative-weights
      // outer loop in exact integer algebra): per-domain mean
      // difficulty (the chars-per-token proxy here; any exact score
      // plugs in), three rounds of mixture-weighted-mean excess →
      // multiplicative update → exact-1e6-ppm renormalization (floor
      // + largest remainder, ties by name). The oracle replays ALL
      // THREE ROUNDS UNROLLED — every weight of every iteration is
      // compared, so one wrong truncation, clamp bound, or remainder
      // tie-break anywhere in the cascade diverges (the x157 rule).
      // One corpus scan; rounds are domains-sized arithmetic
      (s, d) => {
        val doc = documents(s, d)
          .withColumn("__tok", TextAnalysis.tokenCount(col("text")))
          .withColumn("__loss", expr(
            "(CAST(length(text) AS BIGINT) * CAST(1000000 AS BIGINT))" +
              " DIV (CAST(__tok AS BIGINT) + CAST(1 AS BIGINT))"))
        Sampling.domainReweight(doc, "source", col("__loss"),
            iters = 3, etaPpm = 500000L)
          .orderBy("iter", "domain")
      },
      // MATERIALIZED everywhere a CTE is re-referenced: without it
      // DuckDB re-inlines the corpus-scan chain into every round's
      // every reference — the r14 close measured this one oracle at
      // ~825s of a ~945s full replay (87%); materialized it replays
      // in seconds, value-identical (the r15 oracle-budget fix)
      Some(s"""WITH tok AS MATERIALIZED (SELECT source,
                  CAST(length(text) AS BIGINT) * 1000000 //
                    (CAST(len(list_filter(string_split(
                      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                      ' '), t -> t <> '')) AS BIGINT) + 1) AS loss
                FROM documents),
              d AS MATERIALIZED (SELECT source, count(*) AS n,
                      CAST(sum(loss) AS BIGINT) AS s
                    FROM tok GROUP BY 1),
              m AS MATERIALIZED (SELECT source, s // n AS mean FROM d),
              kk AS MATERIALIZED (
                SELECT CAST(count(*) AS BIGINT) AS k FROM d),
              w0 AS MATERIALIZED (SELECT source,
                  1000000 // k + (CASE WHEN rn <= 1000000 % k
                    THEN 1 ELSE 0 END) AS w
                FROM (SELECT source,
                        row_number() OVER (ORDER BY source) AS rn
                      FROM d), kk),
              ${reweightRound(1)},
              ${reweightRound(2)},
              ${reweightRound(3)}
              SELECT CAST(0 AS INT) AS iter, source AS domain,
                CAST(w AS BIGINT) AS weight_ppm FROM w0
              UNION ALL SELECT 1, source, CAST(w AS BIGINT) FROM w1
              UNION ALL SELECT 2, source, CAST(w AS BIGINT) FROM w2
              UNION ALL SELECT 3, source, CAST(w AS BIGINT) FROM w3
              ORDER BY iter, domain""")),

    QueryDef("x173_tx_point_read",
      // KEYED POINT READ over a hash-clustered string table (r14):
      // the read-side twin of the x170 write path — fetching K doc
      // ids must read ~K bounded dirs, never scan the table (at
      // 100 TB a point lookup that scans is an outage). The fetch
      // list mixes present keys, one TOMBSTONED key (the mask must
      // apply to point reads exactly as to snapshots), and one absent
      // key; TxLakeSpec pins the <=K-dirs plan via input_file_name.
      // The oracle replays the semi-join minus the tombstone
      (s, d) => {
        import s.implicits._
        val root = freshTxRoot(s, "skeys", d)
        val key = (id: Column) =>
          concat(lit("doc-"), lpad(id.cast("string"), 6, "0"))
        val doc = txDocs(s, d)
          .select(key(col("doc_id")).as("doc_key"), col("text"))
        TxLog.append(s, root, doc, Some("doc_key"))
        TxLog.optimizeHash(s, root, "doc_key", buckets = 16)
        TxLog.tombstone(s, root,
          Seq("doc-000013").toDF("doc_key"), "doc_key")
        val wanted = txDocs(s, d).where(col("doc_id") % 97 === 5)
          .select(key(col("doc_id")).as("doc_key"))
          .unionByName(Seq("doc-000013", "doc-888888").toDF("doc_key"))
        TxLog.snapshotKeys(s, root, wanted, "doc_key")
          .select(col("doc_key"), md5(col("text")).as("digest"))
          .orderBy("doc_key")
      },
      Some("""SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
                  AS doc_key,
                md5(text) AS digest
              FROM documents
              WHERE doc_id < 2000 AND doc_id % 97 = 5 AND doc_id <> 13
              ORDER BY doc_key""")),

    QueryDef("x174_tx_intake_hash",
      // STRING-KEY INTAKE (r14): appendPartitioned on a key with no
      // value span lands each batch as fixed-width ranges of the
      // portable key hash — the optimizeHash layout per batch — so a
      // continuously-appended doc-id table is merge-prunable from its
      // FIRST batch (pre-r14 every string batch was one full-span dir
      // and every merge rewrote every batch whole). Two parity
      // batches × 8 hash buckets, then a narrow merge; the commit
      // footprints from history() ARE the prune decisions, and the
      // oracle replays the md5-60 bucket assignment of each batch,
      // every per-(batch,bucket) tight hash span, and the merge's
      // stab test in external SQL
      (s, d) => {
        val root = freshTxRoot(s, "sapart", d)
        val key = (id: Column) =>
          concat(lit("doc-"), lpad(id.cast("string"), 6, "0"))
        val doc = txDocs(s, d).select(col("doc_id"),
          key(col("doc_id")).as("doc_key"), col("text"))
        TxLog.appendPartitioned(s, root,
          doc.where(col("doc_id") % 2 === 0).drop("doc_id"),
          "doc_key", buckets = 8)
        TxLog.appendPartitioned(s, root,
          doc.where(col("doc_id") % 2 === 1).drop("doc_id"),
          "doc_key", buckets = 8)
        val batch = txDocs(s, d).where(col("doc_id") % 250 === 3)
          .select(key(col("doc_id")).as("doc_key"),
            upper(col("text")).as("text"))
        TxLog.merge(s, root, batch, "doc_key")
        TxLog.history(s, root)
          .select(col("version"), col("action"), col("n_adds"),
            col("n_removes"))
          .orderBy("version")
      },
      Some("""WITH d AS (SELECT doc_id,
                  'doc-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS k
                FROM documents WHERE doc_id < 2000),
              h AS (SELECT doc_id % 2 AS b, doc_id,
                  CAST('0x' || substring(md5('txkey:' || k), 1, 15)
                    AS BIGINT) AS hv
                FROM d),
              bk AS (SELECT b, hv // 144115188075855872 AS bu,
                  min(hv) AS mn, max(hv) AS mx
                FROM h GROUP BY 1, 2),
              mk AS (SELECT hv FROM h WHERE doc_id % 250 = 3),
              t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bk
                    WHERE EXISTS (SELECT 1 FROM mk
                      WHERE mk.hv >= bk.mn AND mk.hv <= bk.mx)),
              a1 AS (SELECT CAST(count(*) AS BIGINT) AS n
                     FROM bk WHERE b = 0),
              a2 AS (SELECT CAST(count(*) AS BIGINT) AS n
                     FROM bk WHERE b = 1)
              SELECT CAST(1 AS BIGINT) AS version, 'append' AS action,
                a1.n AS n_adds, CAST(0 AS BIGINT) AS n_removes FROM a1
              UNION ALL SELECT 2, 'append', a2.n, 0 FROM a2
              UNION ALL SELECT 3, 'merge', 1, t.n FROM t
              ORDER BY version""")),

    QueryDef("x170_tx_merge_string",
      // STRING-KEYED MERGE with a hash-pruned write path (r14 — the
      // r13 verdict's one remaining tx scale-killer: a non-long key
      // has no value span, so merge degenerated to a full-table
      // rewrite; doc-id/URL keys are the COMMON case in this engine's
      // own corpus tables, and the reference's K5 key `code_site` is
      // a string, preprocess_to_staging.py:84-85). The table is
      // hash-clustered (optimizeHash: fixed-width ranges of the
      // portable md5-60 key hash, per-bucket tight hash min/max), and
      // the change batch — updates, deletes, fresh inserts, all on
      // the STRING key — interval-stabs those ranges so only the
      // stabbed buckets rewrite (x171 pins the counts; TxLogSpec pins
      // untouched dirs byte-identical). Snapshot byte-accounted via
      // md5 against the oracle's replay of the merged state
      (s, d) => {
        val root = freshTxRoot(s, "smerge", d)
        val key = (id: Column) =>
          concat(lit("doc-"), lpad(id.cast("string"), 6, "0"))
        val doc = txDocs(s, d)
          .select(key(col("doc_id")).as("doc_key"), col("text"))
        TxLog.append(s, root, doc, Some("doc_key"))
        TxLog.optimizeHash(s, root, "doc_key", buckets = 16)
        val base = txDocs(s, d)
        val batch = base.where(col("doc_id") % 10 === 3)
            .select(key(col("doc_id")).as("doc_key"),
              upper(col("text")).as("text"), lit(false).as("__del"))
          .unionByName(base.where(col("doc_id") % 10 === 7)
            .select(key(col("doc_id")).as("doc_key"), col("text"),
              lit(true).as("__del")))
          .unionByName(base.where(col("doc_id") % 10 === 1)
            .select(key(col("doc_id") + 10000L).as("doc_key"), col("text"),
              lit(false).as("__del")))
        TxLog.merge(s, root, batch, "doc_key", deleteCol = Some("__del"))
        TxLog.snapshot(s, root)
          .select(col("doc_key"), md5(col("text")).as("digest"))
          .orderBy("doc_key")
      },
      Some("""WITH d AS (SELECT
                  'doc-' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
                    AS doc_key,
                  doc_id, text
                FROM documents WHERE doc_id < 2000)
              SELECT doc_key, md5(text) AS digest FROM (
                SELECT doc_key,
                  CASE WHEN doc_id % 10 = 3 THEN upper(text)
                    ELSE text END AS text
                FROM d WHERE doc_id % 10 <> 7
                UNION ALL
                SELECT 'doc-' || lpad(CAST(doc_id + 10000 AS VARCHAR),
                    6, '0'), text
                FROM d WHERE doc_id % 10 = 1)
              ORDER BY doc_key"""),
      headline = true),

    QueryDef("x171_tx_merge_pruned",
      // the x170 prune DECISION as data (the x151 discipline applied
      // to the string-key write path): the hash-cluster rewrite's
      // bucket count and the merge commit's REMOVE footprint, straight
      // from history() — n_removes IS the number of hash buckets the
      // batch's key hashes stabbed, everything else stayed on disk.
      // The oracle replays the portable hash (md5-60 of
      // 'txkey:<key>'), the fixed-width bucket assignment
      // (width = 2^60/16), each bucket's TIGHT recorded hash min/max,
      // and the stab test — exactly the arithmetic the manifest prune
      // runs, in external SQL
      (s, d) => {
        val root = freshTxRoot(s, "smergep", d)
        val key = (id: Column) =>
          concat(lit("doc-"), lpad(id.cast("string"), 6, "0"))
        val doc = txDocs(s, d)
          .select(key(col("doc_id")).as("doc_key"), col("text"))
        TxLog.append(s, root, doc, Some("doc_key"))
        TxLog.optimizeHash(s, root, "doc_key", buckets = 16)
        val base = txDocs(s, d)
        val batch = base.where(col("doc_id") % 100 === 3)
          .select(key(col("doc_id")).as("doc_key"),
            upper(col("text")).as("text"))
        TxLog.merge(s, root, batch, "doc_key")
        TxLog.history(s, root).where(col("version") >= 2)
          .select(col("version"), col("action"), col("n_adds"),
            col("n_removes"))
          .orderBy("version")
      },
      Some("""WITH d AS (SELECT
                  'doc-' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
                    AS doc_key, doc_id
                FROM documents WHERE doc_id < 2000),
              h AS (SELECT doc_key, doc_id,
                  CAST('0x' || substring(md5('txkey:' || doc_key), 1, 15)
                    AS BIGINT) AS hv
                FROM d),
              b AS (SELECT hv // 72057594037927936 AS bk,
                  min(hv) AS mn, max(hv) AS mx
                FROM h GROUP BY 1),
              bh AS (SELECT hv FROM h WHERE doc_id % 100 = 3),
              t AS (SELECT CAST(count(*) AS BIGINT) AS n_touched
                    FROM b WHERE EXISTS (SELECT 1 FROM bh
                      WHERE bh.hv >= b.mn AND bh.hv <= b.mx)),
              nb AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets FROM b)
              SELECT CAST(2 AS BIGINT) AS version, 'rewrite' AS action,
                nb.n_buckets AS n_adds, CAST(1 AS BIGINT) AS n_removes
              FROM nb
              UNION ALL
              SELECT 3, 'merge', 1, t.n_touched FROM t
              ORDER BY version""")),

    QueryDef("x172_tx_stats_overlap",
      // manifest-stats HEALTH as data (r14 — what RunGc --audit-stats
      // watches): five interleaved appends each span the whole key
      // range, so the per-dir spans tile the domain FIVE times over
      // (overlap_ppm ≈ 5e6: every range read scans every dir — x156's
      // degradation, now measured instead of narrated); one
      // optimizeRange later the spans tile it once (≈ 1e6). The
      // oracle replays every span, the global span, and both exact
      // floor-divided ppm readings from the raw table
      (s, d) => {
        val root = freshTxRoot(s, "saudit", d)
        val doc = txDocs(s, d)
        (0 until 5).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") % 5 === k), Some("doc_id")))
        // statsAudit materializes driver-side at call time (manifest
        // arithmetic, no deferred scan), so `before` is already pinned
        // against the optimize below
        val before = TxLog.statsAudit(s, root, "doc_id")
          .withColumn("phase", lit("interleaved"))
        TxLog.optimizeRange(s, root, "doc_id", buckets = 8)
        val after = TxLog.statsAudit(s, root, "doc_id")
          .withColumn("phase", lit("optimized"))
        before.unionByName(after)
          .select(col("phase"), col("stat"), col("n_dirs"),
            col("n_stats"), col("sum_spans"), col("overlap_ppm"))
          .orderBy("phase", "stat")
      },
      // the r15 null-count stat rides every write path, so each phase
      // also reports a doc_id#nulls health row (doc_id is never null
      // here: 0 recorded nulls, 0 scan share) — the oracle pins that
      // the counter is recorded by BOTH append and optimizeRange
      Some("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
              sl AS (SELECT doc_id % 5 AS k, min(doc_id) AS mn,
                       max(doc_id) AS mx
                     FROM d GROUP BY 1),
              gi AS (SELECT min(mn) AS gmn, max(mx) AS gmx FROM sl),
              bi AS (SELECT CAST(sum(mx - mn + 1) AS BIGINT) AS spans,
                       CAST(count(*) AS BIGINT) AS nst
                     FROM sl),
              r AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM d),
              w AS (SELECT mn, greatest(1, (mx - mn + 8) // 8) AS width
                    FROM r),
              bk AS (SELECT (doc_id - mn) // width AS k,
                       min(doc_id) AS mn, max(doc_id) AS mx
                     FROM d, w GROUP BY 1),
              go AS (SELECT min(mn) AS gmn, max(mx) AS gmx FROM bk),
              bo AS (SELECT CAST(sum(mx - mn + 1) AS BIGINT) AS spans,
                       CAST(count(*) AS BIGINT) AS nst
                     FROM bk)
              SELECT 'interleaved' AS phase, 'doc_id' AS stat,
                CAST(5 AS BIGINT) AS n_dirs, bi.nst AS n_stats,
                bi.spans AS sum_spans,
                bi.spans * 1000000 // (gi.gmx - gi.gmn + 1) AS overlap_ppm
              FROM bi, gi
              UNION ALL
              SELECT 'interleaved', 'doc_id#nulls', 5, bi.nst,
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              FROM bi
              UNION ALL
              SELECT 'optimized', 'doc_id', bo.nst, bo.nst, bo.spans,
                bo.spans * 1000000 // (go.gmx - go.gmn + 1)
              FROM bo, go
              UNION ALL
              SELECT 'optimized', 'doc_id#nulls', bo.nst, bo.nst,
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              FROM bo
              ORDER BY phase, stat""")),

    QueryDef("x175_tx_restore",
      // RESTORE / rollback-as-a-commit (r14 — the published Delta
      // `RESTORE TABLE ... VERSION AS OF` shape; the operational
      // answer to the botched job): four appends + a takedown build
      // the good state; then a bad uppercase MERGE, a junk append and
      // a narrow post-target takedown land on top; one restore commit
      // makes the head the good state again WITHOUT rewinding the log
      // (the botch stays travel-readable) and moves data bytes ONLY
      // for the dirs the post-target tombstone could mask (its keys
      // all live under doc_id 500, so only the first span's dir
      // materializes at sf0.1 — every other dir re-adds as pure
      // metadata with its original stats and generation, the
      // TxLakeSpec-pinned invariant). The snapshot is byte-accounted
      // via md5 against the oracle's replay of the target state: a
      // surviving uppercase row, a lingering junk row, a lost
      // takedown resurrection, or a pre-target mask leaking back all
      // diverge
      (s, d) => {
        val root = freshTxRoot(s, "restore", d)
        val doc = txDocs(s, d)
        (0 until 4).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") >= k * 500 && col("doc_id") < (k + 1) * 500),
          Some("doc_id")))
        TxLog.tombstone(s, root,
          doc.where(col("doc_id") % 13 === 5).select("doc_id"), "doc_id")
        val target = TxLog.latestVersion(s, root)
        TxLog.merge(s, root, doc.where(col("doc_id") % 3 === 0)
          .select(col("doc_id"), upper(col("text")).as("text")), "doc_id")
        TxLog.append(s, root, doc.where(col("doc_id") < 10)
          .select((col("doc_id") + 90000L).as("doc_id"), col("text")),
          Some("doc_id"))
        TxLog.tombstone(s, root,
          doc.where(col("doc_id") % 20 === 7 && col("doc_id") < 500)
            .select("doc_id"), "doc_id")
        TxLog.restore(s, root, target)
        TxLog.snapshot(s, root)
          .select(col("doc_id"), md5(col("text")).as("digest"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(text) AS digest FROM documents
              WHERE doc_id < 2000 AND doc_id % 13 <> 5
              ORDER BY doc_id""")),

    QueryDef("x176_tx_compact",
      // SMALL-DIR COMPACTION (r14 — the published Delta OPTIMIZE
      // bin-packing shape at dir granularity; what RunGc
      // --compact-below applies): eight interleaved appends each
      // spanning the whole key range leave a tail of small wide-span
      // dirs, a takedown masks some of their rows, and one
      // optimizeCompact — reading ONLY the tail, O(small) not
      // O(table) — packs the surviving rows into fixed-width
      // value-range buckets, baking the masks in (TxLakeSpec pins the
      // untouched-big-dir and tiling-span invariants). The snapshot
      // is byte-accounted via md5 and then range-read under the fresh
      // stats: a masked row leaking into the packed layout, a lost
      // row, or a mis-bucketed span diverges one of the two reads
      (s, d) => {
        val root = freshTxRoot(s, "compact", d)
        val doc = txDocs(s, d)
        (0 until 8).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") % 8 === k), Some("doc_id")))
        TxLog.tombstone(s, root,
          doc.where(col("doc_id") % 9 === 4).select("doc_id"), "doc_id")
        TxLog.optimizeCompact(s, root, targetRows = 300)
        TxLog.snapshot(s, root)
          .select(col("doc_id"), md5(col("text")).as("digest"))
          .unionByName(
            TxLog.snapshotRange(s, root, "doc_id", 0L, 250L)
              .select(col("doc_id"), lit("range").as("digest")))
          .orderBy("doc_id", "digest")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000 AND doc_id % 9 <> 4)
              SELECT doc_id, md5(text) AS digest FROM d
              UNION ALL
              SELECT doc_id, 'range' FROM d WHERE doc_id < 250
              ORDER BY doc_id, digest""")),

    QueryDef("x177_tx_clone",
      // ZERO-COPY SHALLOW CLONE / fork (r14 — the published Delta
      // SHALLOW CLONE shape strengthened to a full log fork, the
      // dev/test-branch move that must not copy 100 TB): a masked
      // source table forks; the CLONE then upserts (uppercase every
      // %5==0 doc — note the %11==3 ∩ %5==0 keys the pre-fork
      // takedown masked come back to life, the documented merge
      // re-insert semantic) and appends fresh +20000 keys, while the
      // SOURCE takes down %7==2 AFTER the fork. Reading BOTH tables
      // side-tagged into one frame proves isolation in both
      // directions through a single byte-accounting: a clone write
      // leaking into the source, a source takedown leaking into the
      // clone, or a mis-resolved pre-fork dir each diverge a side.
      // TxCloneSpec pins the physical half (no local data at the cut,
      // nested chains, vacuum locality)
      (s, d) => {
        val src = freshTxRoot(s, "clonesrc", d)
        val dst = freshTxRoot(s, "clonedst", d)
        val doc = txDocs(s, d)
        (0 until 4).foreach(k => TxLog.append(s, src,
          doc.where(col("doc_id") >= k * 500 && col("doc_id") < (k + 1) * 500),
          Some("doc_id")))
        TxLog.tombstone(s, src,
          doc.where(col("doc_id") % 11 === 3).select("doc_id"), "doc_id")
        TxLog.cloneTable(s, src, dst)
        TxLog.merge(s, dst, doc.where(col("doc_id") % 5 === 0)
          .select(col("doc_id"), upper(col("text")).as("text")), "doc_id")
        TxLog.append(s, dst, doc.where(col("doc_id") < 100)
          .select((col("doc_id") + 20000L).as("doc_id"), col("text")),
          Some("doc_id"))
        TxLog.tombstone(s, src,
          doc.where(col("doc_id") % 7 === 2).select("doc_id"), "doc_id")
        TxLog.snapshot(s, dst)
          .select(lit("clone").as("side"), col("doc_id"),
            md5(col("text")).as("digest"))
          .unionByName(TxLog.snapshot(s, src)
            .select(lit("src").as("side"), col("doc_id"),
              md5(col("text")).as("digest")))
          .orderBy("side", "doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000)
              SELECT 'clone' AS side, doc_id,
                md5(CASE WHEN doc_id % 5 = 0 THEN upper(text)
                  ELSE text END) AS digest
              FROM d WHERE doc_id % 11 <> 3 OR doc_id % 5 = 0
              UNION ALL
              SELECT 'clone', doc_id + 20000, md5(text)
              FROM d WHERE doc_id < 100
              UNION ALL
              SELECT 'src', doc_id, md5(text) FROM d
              WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2
              ORDER BY side, doc_id""")),

    QueryDef("x178_exif_orientation",
      // EXIF ORIENTATION via the codegen'd APP1 → TIFF IFD walk (r14
      // — the rotate/flip flag a crawl pipeline must normalize BEFORE
      // resize/fingerprint, or portrait images train sideways):
      // payloads carry SOI + an id-LENGTH-VARYING COM + a genuine
      // Exif APP1 whose TIFF block ALTERNATES byte order by id (II
      // even / MM odd) with orientation sitting as the SECOND of
      // three IFD0 entries (Make ASCII before it, XResolution
      // RATIONAL after — the walk must match the tag, not a lucky
      // offset) + SOF0. Orientation, dims AND total length all replay
      // from the id algebra — parse(synthesize(x)) == x across 29 hop
      // alignments × 2 byte orders, the x164 pattern
      (s, d) => {
        val packed = Multimodal.packFakeExifJpegs(
          documents(s, d).where(col("doc_id") < 400), "doc_id")
        packed.select(col("media_id"),
            Multimodal.exifOrientation(col("media")).cast("long")
              .as("orientation"),
            Multimodal.imageDims(col("media")).getField("width").as("width"),
            Multimodal.imageDims(col("media")).getField("height")
              .as("height"),
            length(col("media")).cast("long").as("n_bytes"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
                doc_id % 8 + 1 AS orientation,
                doc_id % 3000 + 16 AS width,
                (doc_id * 7) % 2000 + 16 AS height,
                CAST(101 + doc_id % 29 AS BIGINT) AS n_bytes
              FROM documents WHERE doc_id < 400 ORDER BY media_id""")),

    QueryDef("x179_tx_stream_replica",
      // TxStream AS A LIBRARY (r14 — the x163 materialized-view loop
      // promoted to a one-line API): the source lives a full life —
      // appends, an uppercase merge, a takedown, a botched junk
      // append ROLLED BACK by restore — and ONE catchUp call replays
      // every version's reconciled physical delta into the replica
      // via idempotent MERGE (latest-version-wins per key, insert
      // beats delete within a version). A SECOND catchUp proves the
      // token cursor: it re-walks the log and commits nothing. The
      // replica snapshot is byte-accounted against the oracle's
      // replay of the source's final state — one lost delta, one
      // double-applied replay, or a resurrected rolled-back row all
      // diverge
      (s, d) => {
        val src = freshTxRoot(s, "tstr", d)
        val dst = freshTxRoot(s, "tstd", d)
        val doc = txDocs(s, d)
        (0 until 2).foreach(k => TxLog.append(s, src,
          doc.where(col("doc_id") >= k * 1000 &&
            col("doc_id") < (k + 1) * 1000), Some("doc_id")))
        TxLog.merge(s, src, doc.where(col("doc_id") % 6 === 1)
          .select(col("doc_id"), upper(col("text")).as("text")), "doc_id")
        TxLog.tombstone(s, src,
          doc.where(col("doc_id") % 10 === 4).select("doc_id"), "doc_id")
        val good = TxLog.latestVersion(s, src)
        TxLog.append(s, src, doc.where(col("doc_id") < 10)
          .select((col("doc_id") + 70000L).as("doc_id"), col("text")),
          Some("doc_id"))
        TxLog.restore(s, src, good)
        graft.streaming.TxStream.catchUp(s, src, dst, "doc_id")
        graft.streaming.TxStream.catchUp(s, src, dst, "doc_id") // no-op
        TxLog.snapshot(s, dst)
          .select(col("doc_id"), md5(col("text")).as("digest"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
                md5(CASE WHEN doc_id % 6 = 1 THEN upper(text)
                  ELSE text END) AS digest
              FROM documents
              WHERE doc_id < 2000 AND doc_id % 10 <> 4
              ORDER BY doc_id""")),

    QueryDef("x180_tx_datasource",
      // the REGISTERED DATA SOURCE (r14 — `graft-tx`, the SQL-side
      // door: a session that never touches the Scala API builds and
      // queries a tx table): the table is built through
      // DataFrameWriter modes alone (errorifexists creates, append
      // commits v2), masked by a takedown, then read three ways at
      // once — a SQL `CREATE ... USING` view under a range predicate
      // (pushed filters become manifest bounds via TxBounds, Spark
      // re-applies them above the scan), and a versionAsOf travel
      // read through spark.read.format. A mask leaking through the
      // view, a write landing without a commit, or travel resolving
      // the wrong head all diverge the byte-accounting
      (s, d) => {
        val root = freshTxRoot(s, "dsq", d)
        val doc = txDocs(s, d)
        doc.where(col("doc_id") % 2 === 0).write.format("graft-tx")
          .option("statsCol", "doc_id").save(root)
        doc.where(col("doc_id") % 2 === 1).write.format("graft-tx")
          .mode("append").save(root)
        TxLog.tombstone(s, root,
          doc.where(col("doc_id") % 17 === 6).select("doc_id"), "doc_id")
        s.sql("CREATE OR REPLACE TEMPORARY VIEW tx_ds_v " +
          s"USING graft.sources.TxDataSource OPTIONS (path '$root')")
        s.sql("""SELECT doc_id, md5(text) AS digest FROM tx_ds_v
                 WHERE doc_id >= 100 AND doc_id < 1500""")
          .unionByName(s.read.format("graft-tx").option("versionAsOf", 1)
            .load(root)
            .select(col("doc_id"), lit("v1").as("digest")))
          .orderBy("doc_id", "digest")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000)
              SELECT doc_id, md5(text) AS digest FROM d
              WHERE doc_id >= 100 AND doc_id < 1500 AND doc_id % 17 <> 6
              UNION ALL
              SELECT doc_id, 'v1' FROM d WHERE doc_id % 2 = 0
              ORDER BY doc_id, digest""")),

    QueryDef("x181_tx_detail",
      // DESCRIBE DETAIL (r14 — the one-row operational summary an
      // operator reads before choosing compact vs optimize vs
      // checkpoint): after a known life — four appends, a takedown,
      // a CHECK constraint, a clone cut REGISTERED from this table
      // (clone_depth counts cuts in THIS log: 0; the fork's own log
      // carries 1) — every summary field replays as a constant or a
      // corpus count: version arithmetic, live-dir count, PHYSICAL
      // rows (pre-mask — the takedown moved zero data bytes, so
      // phys_rows stays the full corpus while the logical snapshot
      // shrank), live tombstones, constraints, the stats column, and
      // the never-checkpointed / never-vacuumed zeros. The cloned
      // fork's own detail row rides along (version = cut, depth 1,
      // same physical footprint — zero-copy made concrete)
      (s, d) => {
        val root = freshTxRoot(s, "detail", d)
        val fork = freshTxRoot(s, "detailf", d)
        val doc = txDocs(s, d)
        (0 until 4).foreach(k => TxLog.append(s, root,
          doc.where(col("doc_id") >= k * 500 && col("doc_id") < (k + 1) * 500),
          Some("doc_id")))
        TxLog.tombstone(s, root,
          doc.where(col("doc_id") % 9 === 2).select("doc_id"), "doc_id")
        TxLog.addConstraint(s, root, "pos_id", "doc_id >= 0")
        TxLog.cloneTable(s, root, fork)
        TxLog.detail(s, root).withColumn("side", lit("source"))
          .unionByName(TxLog.detail(s, fork).withColumn("side", lit("fork")))
          .orderBy("side")
      },
      Some("""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c
                         FROM documents WHERE doc_id < 2000)
              SELECT CAST(7 AS BIGINT) AS version,
                CAST(4 AS BIGINT) AS n_live_dirs, n.c AS phys_rows,
                CAST(1 AS BIGINT) AS live_tombstones,
                CAST(1 AS BIGINT) AS n_constraints,
                'doc_id' AS stats_col, CAST(1 AS BIGINT) AS clone_depth,
                CAST(0 AS BIGINT) AS last_checkpoint,
                CAST(0 AS BIGINT) AS gc_horizon, 'fork' AS side
              FROM n
              UNION ALL
              SELECT 6, 4, n.c, 1, 1, 'doc_id', 0, 0, 0, 'source'
              FROM n
              ORDER BY side""")),

    QueryDef("x182_tx_rename_drop",
      // METADATA-ONLY RENAME + DROP (r14 — the Delta column-mapping
      // move as versioned name lineage, closing the r13 whitelist's
      // "rename/drop is a rewrite"): evens land under (doc_id, text,
      // lang), a takedown publishes under the OLD key name, the key
      // renames to doc_key (zero bytes move), odds land in the new
      // shape, lang is DROPPED, then re-ADDED, and a final batch
      // carries lang='xx'. The snapshot must show: the old-name
      // tombstone still masking the even %8==2 rows, every pre-drop
      // generation reading lang as NULL (the lineage ended — the
      // dropped 'real' values must NOT resurrect into the re-added
      // column), and the fresh batch's 'xx' intact. One leaked
      // dropped value, one lost mask, or one mis-mapped key diverges
      (s, d) => {
        val root = freshTxRoot(s, "renames", d)
        val doc = documents(s, d).where(col("doc_id") < 2000)
          .select(col("doc_id"), col("text"), col("lang"))
        TxLog.append(s, root, doc.where(col("doc_id") % 2 === 0),
          Some("doc_id"))
        TxLog.tombstone(s, root,
          doc.where(col("doc_id") % 8 === 2).select("doc_id"), "doc_id")
        TxLog.renameColumn(s, root, "doc_id", "doc_key")
        TxLog.append(s, root, doc.where(col("doc_id") % 2 === 1)
          .select(col("doc_id").as("doc_key"), col("text"), col("lang")),
          Some("doc_key"))
        TxLog.dropColumn(s, root, "lang")
        TxLog.evolveSchema(s, root,
          "doc_key BIGINT, text STRING, lang STRING")
        TxLog.append(s, root, doc.where(col("doc_id") < 100)
          .select((col("doc_id") + 30000L).as("doc_key"), col("text"),
            lit("xx").as("lang")), Some("doc_key"))
        TxLog.snapshot(s, root)
          .select(col("doc_key"), md5(col("text")).as("digest"),
            coalesce(col("lang"), lit("-")).as("lang"))
          .orderBy("doc_key")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000)
              SELECT doc_id AS doc_key, md5(text) AS digest, '-' AS lang
              FROM d
              WHERE doc_id % 2 = 1
                 OR (doc_id % 2 = 0 AND doc_id % 8 <> 2)
              UNION ALL
              SELECT doc_id + 30000, md5(text), 'xx'
              FROM d WHERE doc_id < 100
              ORDER BY doc_key""")),

    QueryDef("x183_tx_sql_dml",
      // SQL ROW-LEVEL DML (r15 — the Delta-habituated user's first
      // keystroke, `MERGE INTO`, plus UPDATE/DELETE, all from pure
      // SQL): the table is range-clustered at intake, then lives an
      // entire DML life through spark.sql alone — a MERGE upsert
      // (uppercase every %6==1 doc AND insert 50 fresh +50000 keys in
      // one statement), a bounds-pruned UPDATE (append '!' on
      // [100,300) — the WHERE compiles to manifest bounds, TxSqlSpec
      // pins the 1-of-4-dirs rewrite), a predicate DELETE (%10==4 —
      // no derivable bound, full touch, still exact), and a MERGE
      // delete-on-match from a key view (%9==2 of the ORIGINAL ids;
      // the +50000 inserts are not in the key set and must survive).
      // Each statement lowers onto the engine's pruned write paths
      // (TxLog.merge/mergeDelete/updateWhere/deleteWhere) via the
      // injected resolution rule; the final snapshot byte-accounts
      // the whole composition — one mis-lowered clause, one
      // swallowed insert, or one over-deleted duplicate diverges
      (s, d) => {
        val root = freshTxRoot(s, "sqldml", d)
        val doc = txDocs(s, d)
        TxLog.appendPartitioned(s, root, doc, "doc_id", 4)
        s.sql("CREATE OR REPLACE TEMPORARY VIEW sqldml_t " +
          s"USING `graft-tx` OPTIONS (path '$root')")
        doc.where(col("doc_id") % 6 === 1)
          .select(col("doc_id"), upper(col("text")).as("text"))
          .unionByName(doc.where(col("doc_id") < 50)
            .select((col("doc_id") + 50000L).as("doc_id"), col("text")))
          .createOrReplaceTempView("sqldml_s")
        s.sql("""MERGE INTO sqldml_t t USING sqldml_s s ON t.doc_id = s.doc_id
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")
        s.sql("""UPDATE sqldml_t SET text = concat(text, '!')
                 WHERE doc_id >= 100 AND doc_id < 300""")
        s.sql("DELETE FROM sqldml_t WHERE doc_id % 10 = 4")
        doc.where(col("doc_id") % 9 === 2).select("doc_id")
          .createOrReplaceTempView("sqldml_k")
        s.sql("""MERGE INTO sqldml_t t USING sqldml_k s ON t.doc_id = s.doc_id
                 WHEN MATCHED THEN DELETE""")
        TxLog.snapshot(s, root)
          .select(col("doc_id"), md5(col("text")).as("digest"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000),
              m AS (SELECT doc_id,
                      CASE WHEN doc_id % 6 = 1 THEN upper(text)
                        ELSE text END AS text
                    FROM d
                    UNION ALL
                    SELECT doc_id + 50000, text FROM d WHERE doc_id < 50),
              u AS (SELECT doc_id,
                      CASE WHEN doc_id >= 100 AND doc_id < 300
                        THEN text || '!' ELSE text END AS text
                    FROM m)
              SELECT doc_id, md5(text) AS digest FROM u
              WHERE doc_id % 10 <> 4
                AND doc_id NOT IN
                  (SELECT doc_id FROM d WHERE doc_id % 9 = 2)
              ORDER BY doc_id""")),

    QueryDef("x184_tx_null_probe",
      // IS NULL pruning via per-dir NULL COUNTS (r15 — min/max spans
      // cannot answer `WHERE col IS NULL`, so pre-r15 a null probe
      // scanned the whole table): evens land with score never null,
      // odds with score null on every %5==0, a takedown masks %7==1;
      // snapshotNulls reads ONLY the null-carrying dir (TxLakeSpec
      // pins the inputFiles set) and the masked rows stay hidden.
      // The health row rides along: overlap_ppm = the share of
      // statted dirs a null probe must scan (1 of 2 -> 500000) and
      // sum_spans = total PHYSICAL nulls recorded at write time
      // (tombstones move no bytes, so masked null rows still count)
      (s, d) => {
        val root = freshTxRoot(s, "nullprobe", d)
        val doc = txDocs(s, d).select(col("doc_id"))
        TxLog.appendCols(s, root,
          doc.where(col("doc_id") % 2 === 0)
            .withColumn("score", col("doc_id") * 3),
          Seq("doc_id", "score"))
        TxLog.appendCols(s, root,
          doc.where(col("doc_id") % 2 === 1)
            .withColumn("score", when(col("doc_id") % 5 === 0,
              lit(null).cast("long")).otherwise(col("doc_id") * 3)),
          Seq("doc_id", "score"))
        TxLog.tombstone(s, root,
          doc.where(col("doc_id") % 7 === 1), "doc_id")
        val probe = TxLog.snapshotNulls(s, root, "score")
          .select(lit("probe").as("kind"), col("doc_id").as("a"),
            lit(0L).as("b"))
        val health = TxLog.statsAudit(s, root, "score")
          .where(col("stat") === "score#nulls")
          .select(lit("health").as("kind"),
            col("overlap_ppm").as("a"), col("sum_spans").as("b"))
        probe.unionByName(health).orderBy("kind", "a")
      },
      Some("""WITH d AS (SELECT doc_id FROM documents
                         WHERE doc_id < 2000),
              nulls AS (SELECT doc_id FROM d
                        WHERE doc_id % 2 = 1 AND doc_id % 5 = 0)
              SELECT 'probe' AS kind, doc_id AS a, CAST(0 AS BIGINT) AS b
              FROM nulls WHERE doc_id % 7 <> 1
              UNION ALL
              SELECT 'health', CAST(500000 AS BIGINT),
                (SELECT CAST(count(*) AS BIGINT) FROM nulls)
              ORDER BY kind, a""")),

    QueryDef("x185_tx_sql_travel",
      // SQL READ-SIDE TIME TRAVEL (r16 — the write door went pure-SQL
      // in r15; this closes the read symmetry): `VERSION AS OF n`
      // rides Spark's own grammar and the parser rewrites the
      // RelationTimeTravel node into the relation's travel options
      // BEFORE the v1-refusing analyzer sees it. The composition
      // crosses the two hard travel seams on purpose: v(cut-1) is a
      // travel read BELOW a clone cut (pre-fork dirs are
      // base-resident — resolved through the clone chain), and v4 is
      // below a column rename (serves the OLD name `text`, while the
      // head reads `body` — versioned name lineage, not field ids)
      (s, d) => {
        val src = freshTxRoot(s, "sqltravel_src", d)
        val dst = freshTxRoot(s, "sqltravel_dst", d)
        val doc = txDocs(s, d)
        TxLog.append(s, src, doc.where(col("doc_id") % 2 === 0),
          Some("doc_id"))
        TxLog.append(s, src, doc.where(col("doc_id") % 2 === 1),
          Some("doc_id"))
        // the zero-copy fork, SQL-spelled (r16 SHALLOW CLONE statement)
        val cut = s.sql(s"CREATE TABLE '$dst' SHALLOW CLONE '$src'")
          .head().getLong(0) // = 3
        s.sql("CREATE OR REPLACE TEMPORARY VIEW sqltravel_v " +
          s"USING `graft-tx` OPTIONS (path '$dst')")
        s.sql("DELETE FROM sqltravel_v WHERE doc_id % 10 = 3") // v4
        s.sql("ALTER TABLE sqltravel_v RENAME COLUMN text TO body") // v5
        s.sql("CREATE OR REPLACE TEMPORARY VIEW sqltravel_v " +
          s"USING `graft-tx` OPTIONS (path '$dst')")
        s.sql("SELECT 'v1' AS tag, doc_id, md5(text) AS digest " +
            "FROM sqltravel_v VERSION AS OF 1")
          .unionByName(s.sql("SELECT 'precut' AS tag, doc_id, " +
            s"md5(text) AS digest FROM sqltravel_v VERSION AS OF ${cut - 1}"))
          .unionByName(s.sql("SELECT 'postdel' AS tag, doc_id, " +
            "md5(text) AS digest FROM sqltravel_v VERSION AS OF 4"))
          .unionByName(s.sql("SELECT 'head' AS tag, doc_id, " +
            "md5(body) AS digest FROM sqltravel_v"))
          .orderBy("tag", "doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000)
              SELECT 'v1' AS tag, doc_id, md5(text) AS digest FROM d
              WHERE doc_id % 2 = 0
              UNION ALL SELECT 'precut', doc_id, md5(text) FROM d
              UNION ALL SELECT 'postdel', doc_id, md5(text) FROM d
              WHERE doc_id % 10 <> 3
              UNION ALL SELECT 'head', doc_id, md5(text) FROM d
              WHERE doc_id % 10 <> 3
              ORDER BY tag, doc_id""")),

    QueryDef("x186_tx_sql_ddl",
      // SQL ALTER TABLE (r16 — the evolution machinery is r13/r14;
      // this is its SQL spelling): a table lives the full
      // evolve-rename-drop life through spark.sql alone — ADD COLUMNS
      // (old rows read as typed nulls), a positional INSERT under the
      // widened pin, ALTER COLUMN TYPE int→bigint (lossless widening
      // only; narrowing is a named refusal, spec-pinned), UPDATE onto
      // the widened column, RENAME COLUMN (metadata-only lineage),
      // DROP COLUMN text. The head read serves the post-drop schema;
      // the v5 travel read (below rename+drop) still serves `text`
      // and the old `lang` name — one mis-threaded lineage record or
      // one lost INSERT row diverges the digest
      (s, d) => {
        val root = freshTxRoot(s, "sqlddl", d)
        TxLog.append(s, root, txDocs(s, d), Some("doc_id")) // v1
        def mkView(): Unit =
          s.sql("CREATE OR REPLACE TEMPORARY VIEW sqlddl_v " +
            s"USING `graft-tx` OPTIONS (path '$root')")
        mkView()
        s.sql("ALTER TABLE sqlddl_v ADD COLUMNS (lang STRING, score INT)")
        mkView() // v2 changed the schema; USING views freeze theirs
        s.sql("""INSERT INTO sqlddl_v
                 SELECT doc_id + 20000, upper(text), 'xx',
                        CAST(doc_id % 100 AS INT)
                 FROM sqlddl_v WHERE doc_id < 200""") // v3
        s.sql("ALTER TABLE sqlddl_v ALTER COLUMN score TYPE BIGINT") // v4
        mkView()
        s.sql("UPDATE sqlddl_v SET score = doc_id * 3 " +
          "WHERE doc_id < 100") // v5
        s.sql("ALTER TABLE sqlddl_v RENAME COLUMN lang TO language") // v6
        s.sql("ALTER TABLE sqlddl_v DROP COLUMN text") // v7
        mkView()
        s.sql("""SELECT 'head' AS tag, doc_id,
                   coalesce(language, '-') AS lab,
                   coalesce(score, -1) AS score, '-' AS digest
                 FROM sqlddl_v""")
          .unionByName(s.sql(
            """SELECT 'v5' AS tag, doc_id, coalesce(lang, '-') AS lab,
                 coalesce(score, -1) AS score, md5(text) AS digest
               FROM sqlddl_v VERSION AS OF 5"""))
          .orderBy("tag", "doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000),
              ins AS (SELECT doc_id + 20000 AS doc_id,
                        upper(text) AS text, 'xx' AS lang,
                        CAST(doc_id % 100 AS BIGINT) AS score
                      FROM d WHERE doc_id < 200),
              base AS (SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang,
                        CASE WHEN doc_id < 100 THEN doc_id * 3
                          ELSE NULL END AS score
                       FROM d),
              allr AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
              SELECT 'head' AS tag, doc_id, coalesce(lang, '-') AS lab,
                coalesce(score, -1) AS score, '-' AS digest FROM allr
              UNION ALL
              SELECT 'v5', doc_id, coalesce(lang, '-'),
                coalesce(score, -1), md5(text) FROM allr
              ORDER BY tag, doc_id""")),

    QueryDef("x187_tx_sql_optimize",
      // SQL OPTIMIZE + RESTORE (r16): the two most-typed Delta
      // maintenance statements, lowered onto the same pruned commits
      // as the Scala calls — OPTIMIZE RANGE(doc_id, 8) re-clusters
      // into 8 stat-tight buckets (TxSqlDdlSpec pins the 1-of-8 probe
      // I/O), OPTIMIZE COMPACT folds those 8 small buckets into one
      // dir, a full-touch DELETE, and RESTORE TO VERSION AS OF 2
      // rewinds the live set as a NEW commit (history append-only:
      // the deleted state stays travel-readable at v4). The hist
      // rows pin the commit-log action sequence itself
      (s, d) => {
        val root = freshTxRoot(s, "sqlopt", d)
        TxLog.append(s, root, txDocs(s, d), Some("doc_id")) // v1
        s.sql("CREATE OR REPLACE TEMPORARY VIEW sqlopt_v " +
          s"USING `graft-tx` OPTIONS (path '$root')")
        s.sql("OPTIMIZE sqlopt_v RANGE(doc_id, 8)") // v2
        s.sql("OPTIMIZE sqlopt_v COMPACT(1000000)") // v3: 8 dirs -> 1
        s.sql("DELETE FROM sqlopt_v WHERE doc_id % 5 = 2") // v4
        s.sql(s"RESTORE TABLE '$root' TO VERSION AS OF 2") // v5
        s.sql("SELECT 'head' AS tag, doc_id, md5(text) AS digest " +
            "FROM sqlopt_v")
          .unionByName(s.sql("SELECT 'v4' AS tag, doc_id, " +
            "md5(text) AS digest FROM sqlopt_v VERSION AS OF 4"))
          .unionByName(s.sql("DESCRIBE HISTORY sqlopt_v")
            .select(lit("hist").as("tag"), col("version").as("doc_id"),
              col("action").as("digest")))
          .orderBy("tag", "doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000)
              SELECT 'head' AS tag, doc_id, md5(text) AS digest FROM d
              UNION ALL SELECT 'v4', doc_id, md5(text) FROM d
              WHERE doc_id % 5 <> 2
              UNION ALL SELECT 'hist', v, a FROM (VALUES
                (CAST(1 AS BIGINT), 'append'), (2, 'rewrite'),
                (3, 'compact'), (4, 'delete'), (5, 'restore')) t(v, a)
              ORDER BY tag, doc_id""")),

    QueryDef("x188_tx_stream_sink",
      // NATIVE STREAMING SINK (r16 — the source half became
      // first-class in r15; this is the sink half): a full replica is
      // now `readStream.format("graft-tx") ... writeStream
      // .format("graft-tx")` with cdc reconciliation — no foreachBatch
      // plumbing. The source lives upsert+insert (merge), a takedown
      // (tombstone) and, DURING REPLICA DOWNTIME, a predicate delete;
      // the resumed stream converges from its checkpoint. Exactly-once
      // is the (appId, batchId) token contract (StreamingSpec forces
      // the batch replay); one double-applied rewrite window or one
      // missed downtime commit diverges the digest set
      (s, d) => {
        val src = freshTxRoot(s, "sinksrc", d)
        val dst = freshTxRoot(s, "sinkdst", d)
        val ckpt = freshTxRoot(s, "sinkck", d)
        val doc = txDocs(s, d)
        TxLog.append(s, src, doc, Some("doc_id")) // v1
        TxLog.merge(s, src, // v2: upsert %6==1, insert +40000 under 50
          doc.where(col("doc_id") % 6 === 1)
            .select(col("doc_id"), upper(col("text")).as("text"))
            .unionByName(doc.where(col("doc_id") < 50)
              .select((col("doc_id") + 40000L).as("doc_id"), col("text"))),
          "doc_id")
        TxLog.tombstone(s, src, // v3: takedown %11==5 of the originals
          doc.where(col("doc_id") % 11 === 5).select("doc_id"), "doc_id")
        def start() = s.readStream.format("graft-tx")
          .option("maxVersionsPerBatch", "1").load(src)
          .writeStream.format("graft-tx")
          .option("checkpointLocation", ckpt)
          .option("appId", "x188")
          .option("keyCol", "doc_id").option("cdc", "true")
          .start(dst)
        val q = start()
        try q.processAllAvailable() finally q.stop()
        // replica DOWNTIME: a predicate delete lands on the source
        TxLog.deleteWhere(s, src, col("doc_id") % 10 === 7)
        val q2 = start() // resume from the checkpoint
        try q2.processAllAvailable() finally q2.stop()
        TxLog.snapshot(s, dst)
          .select(col("doc_id"), md5(col("text")).as("digest"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000),
              m AS (SELECT doc_id,
                      CASE WHEN doc_id % 6 = 1 THEN upper(text)
                        ELSE text END AS text
                    FROM d
                    UNION ALL
                    SELECT doc_id + 40000, text FROM d WHERE doc_id < 50)
              SELECT doc_id, md5(text) AS digest FROM m
              WHERE doc_id NOT IN
                  (SELECT doc_id FROM d WHERE doc_id % 11 = 5)
                AND doc_id % 10 <> 7
              ORDER BY doc_id""")),

    QueryDef("x189_tx_merge_evolve",
      // MERGE WITH SCHEMA EVOLUTION (r17 — Delta's `autoMerge`
      // staple, lifted from the r15 refusal now that evolveSchema +
      // lineage + SQL ALTER exist): an EVOLVING CDC feed applies from
      // pure SQL. Batch 1's source gained `score INT` — the pin
      // auto-adds it as its own audited `evolve` commit (old rows
      // read typed nulls), then the normal pruned merge lands.
      // Batch 2 arrives with score BIGINT and an int-overflowing
      // value — the slot WIDENS first (a non-evolving merge would
      // raise on the wrap; TxSqlSpec pins that refusal). Batch 3 is
      // the flagged CDC-apply (no evolution): deletes ride the same
      // statement. The head, a v1 travel read (pre-evolution schema)
      // and the commit-action sequence all pin against the oracle —
      // one missed typed-null backfill, one wrapped overflow or one
      // extra no-op evolve commit diverges
      (s, d) => {
        val root = freshTxRoot(s, "mrgevo", d)
        TxLog.append(s, root, txDocs(s, d), Some("doc_id")) // v1
        txDocs(s, d).createOrReplaceTempView("mrgevo_docs")
        def mkView(): Unit =
          s.sql("CREATE OR REPLACE TEMPORARY VIEW mrgevo_v " +
            s"USING `graft-tx` OPTIONS (path '$root')")
        mkView()
        s.sql("""CREATE OR REPLACE TEMPORARY VIEW mrgevo_s1 AS
                 SELECT doc_id, upper(text) AS text,
                        CAST(doc_id % 7 AS INT) AS score
                 FROM mrgevo_docs WHERE doc_id % 10 = 3
                 UNION ALL
                 SELECT doc_id + 30000, concat('new-', doc_id),
                        CAST(doc_id % 7 AS INT)
                 FROM mrgevo_docs WHERE doc_id < 40""")
        s.sql( // v2 evolve (+score INT), v3 merge
          """MERGE WITH SCHEMA EVOLUTION INTO mrgevo_v t
             USING mrgevo_s1 s ON t.doc_id = s.doc_id
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *""")
        s.sql("""CREATE OR REPLACE TEMPORARY VIEW mrgevo_s2 AS
                 SELECT doc_id, concat('w-', text) AS text,
                        CAST(doc_id AS BIGINT) * 100000000000 AS score
                 FROM mrgevo_docs WHERE doc_id % 10 = 4""")
        s.sql( // v4 evolve (score INT→BIGINT), v5 merge
          """MERGE WITH SCHEMA EVOLUTION INTO mrgevo_v t
             USING mrgevo_s2 s ON t.doc_id = s.doc_id
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *""")
        s.sql("""CREATE OR REPLACE TEMPORARY VIEW mrgevo_s3 AS
                 SELECT doc_id, text, CAST(0 AS BIGINT) AS score,
                        true AS del
                 FROM mrgevo_docs WHERE doc_id % 10 = 7""")
        s.sql( // v6: flagged CDC-apply through the frozen old view —
               // the by-name fallback covers the later-added column
          """MERGE INTO mrgevo_v t USING mrgevo_s3 s
             ON t.doc_id = s.doc_id
             WHEN MATCHED AND s.del THEN DELETE
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED AND NOT s.del THEN INSERT *""")
        mkView()
        s.sql("""SELECT 'head' AS tag, doc_id, md5(text) AS digest,
                   coalesce(score, -1) AS score FROM mrgevo_v""")
          .unionByName(s.sql(
            """SELECT 'v1' AS tag, doc_id, md5(text) AS digest,
                 CAST(-9 AS BIGINT) AS score
               FROM mrgevo_v VERSION AS OF 1"""))
          .unionByName(s.sql("DESCRIBE HISTORY mrgevo_v")
            .select(lit("hist").as("tag"), col("version").as("doc_id"),
              col("action").as("digest"),
              lit(-1L).as("score")))
          .orderBy("tag", "doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 2000),
              head AS (
                SELECT doc_id,
                  CASE WHEN doc_id % 10 = 3 THEN upper(text)
                       WHEN doc_id % 10 = 4 THEN 'w-' || text
                       ELSE text END AS text,
                  CASE WHEN doc_id % 10 = 3 THEN CAST(doc_id % 7 AS BIGINT)
                       WHEN doc_id % 10 = 4 THEN doc_id * 100000000000
                       ELSE -1 END AS score
                FROM d WHERE doc_id % 10 <> 7
                UNION ALL
                SELECT doc_id + 30000, 'new-' || doc_id,
                  CAST(doc_id % 7 AS BIGINT)
                FROM d WHERE doc_id < 40)
              SELECT 'head' AS tag, doc_id, md5(text) AS digest, score
              FROM head
              UNION ALL
              SELECT 'v1', doc_id, md5(text), CAST(-9 AS BIGINT) FROM d
              UNION ALL
              SELECT 'hist', v, a, -1 FROM (VALUES
                (CAST(1 AS BIGINT), 'append'), (2, 'evolve'),
                (3, 'merge'), (4, 'evolve'), (5, 'merge'),
                (6, 'merge')) t(v, a)
              ORDER BY tag, doc_id""")),

    QueryDef("x192_tx_bloom_point",
      // PER-DIR BLOOM STATS (r17 — the point-predicate stat kind):
      // `WHERE url = '…'` on a table clustered by doc_id is the
      // takedown-by-URL shape, and value/hash SPANS cannot answer it —
      // every dir's span admits every url. Each dir now carries a
      // 2 KB blocked Bloom per opted-in column (written in the same
      // single-pass in-write Observation set as every other stat),
      // and a pushed string equality stabs ≤1+fp·dirs dirs instead of
      // scanning the table (TxLogSpec pins the dirs-read bound via
      // inputFiles; Scale10 tx_bloom pins flatness at 10× dirs). The
      // rows here pin exactness: hits through the SQL door equal the
      // oracle's, a miss returns nothing, and the statsAudit row
      // proves the stat kind is recorded on every dir
      (s, d) => {
        val root = freshTxRoot(s, "bloom", d)
        val docs = txDocs(s, d).select(col("doc_id"),
          concat(lit("https://h-"), pmod(col("doc_id"), lit(37L))
              .cast("string"), lit(".example/d/"),
            col("doc_id").cast("string")).as("url"))
        for (i <- 0 until 8)
          TxLog.appendCols(s, root,
            docs.where(pmod(col("doc_id"), lit(8L)) === i.toLong),
            Seq("doc_id"), bloomCols = Seq("url"))
        s.sql("CREATE OR REPLACE TEMPORARY VIEW bloomq_v " +
          s"USING `graft-tx` OPTIONS (path '$root')")
        def probe(tag: String, u: String) =
          s.sql(s"SELECT doc_id, url FROM bloomq_v WHERE url = '$u'")
            .select(lit(tag).as("tag"), col("doc_id"), col("url"))
        probe("hit1", "https://h-5.example/d/42")
          .unionByName(probe("hit2", "https://h-29.example/d/140"))
          .unionByName(probe("miss", "https://absent.example/none"))
          .unionByName(TxLog.statsAudit(s, root, "url")
            .select(lit("audit").as("tag"),
              col("n_stats").as("doc_id"), col("stat").as("url")))
          .orderBy("tag", "doc_id")
      },
      Some("""WITH d AS (SELECT doc_id,
                'https://h-' || (doc_id % 37) || '.example/d/' || doc_id
                  AS url
              FROM documents WHERE doc_id < 2000)
              SELECT 'hit1' AS tag, doc_id, url FROM d WHERE doc_id = 42
              UNION ALL
              SELECT 'hit2', doc_id, url FROM d WHERE doc_id = 140
              UNION ALL
              SELECT 'audit', CAST(8 AS BIGINT), 'url#bloom'
              ORDER BY tag, doc_id"""))
  )

  /** One unrolled round of the x169 oracle: mixture-weighted mean →
    * clamped multiplicative update → exact-1e6 renormalization →
    * post-normalization 1-ppm floor (a zero-floored domain is raised
    * to 1, each ppm paid by the current largest weights, ties by
    * name — no domain ever silently vanishes from the mixture). Every
    * division is `//` (truncation toward zero — matches Long `/`). */
  private def reweightRound(r: Int): String = {
    val prev = if (r == 1) "w0" else s"w${r - 1}"
    s"""wm$r AS MATERIALIZED (SELECT CAST(sum(p.w * m.mean) AS BIGINT) //
                  CAST(sum(p.w) AS BIGINT) AS wm
                FROM $prev p JOIN m USING (source)),
        u$r AS MATERIALIZED (SELECT p.source AS source,
            greatest(1, p.w * greatest(1, least(2000000,
              1000000 + 500000 * (m.mean - wm$r.wm) // 1000000))
              // 1000000) AS x
          FROM $prev p JOIN m USING (source), wm$r),
        s$r AS MATERIALIZED (SELECT CAST(sum(x) AS BIGINT) AS s FROM u$r),
        f$r AS MATERIALIZED (SELECT source, x * 1000000 // s AS f,
                  x * 1000000 % s AS rem
                FROM u$r, s$r),
        g$r AS MATERIALIZED (
          SELECT 1000000 - CAST(sum(f) AS BIGINT) AS give FROM f$r),
        wp$r AS MATERIALIZED (SELECT source,
            f + (CASE WHEN rn <= give THEN 1 ELSE 0 END) AS w
          FROM (SELECT source, f, row_number()
                  OVER (ORDER BY rem DESC, source) AS rn
                FROM f$r), g$r),
        z$r AS MATERIALIZED (SELECT CAST(coalesce(count(*) FILTER (w = 0), 0)
                  AS BIGINT) AS z FROM wp$r),
        w$r AS MATERIALIZED (SELECT source,
            CASE WHEN w = 0 THEN 1
                 WHEN rn <= z THEN w - 1 ELSE w END AS w
          FROM (SELECT source, w, row_number()
                  OVER (ORDER BY w DESC, source) AS rn
                FROM wp$r), z$r)"""
  }
}
