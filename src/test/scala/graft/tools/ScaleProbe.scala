package graft.tools

import graft.Catalog

/** Empirical scaling evidence: run one representative query per
  * operator family at sf0.01 and sf0.1 (10× the rows) in ONE session
  * and report the wall-time ratio at the min-of-N floor. A family
  * whose ratio is ≲ 10 scales at-worst-linearly through this range —
  * the measured counterpart to SCALE.md's plan-shape arguments. Ratios
  * well under 10 mean the sf0.01 number is fixed-cost dominated
  * (scheduling, codegen, small-job floors), i.e. the engine has
  * headroom before data cost even shows; ratios ABOVE ~10 are the red
  * flag this tool exists to catch (a super-linear shuffle or a
  * quadratic tail).
  *
  *   sbt "Test/runMain graft.tools.ScaleProbe"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    val reps = 3
    // one per family: scan-agg, broadcast star join, MinHash+LSH,
    // brute ANN, map-only scoring, chunk dedup, span dedup, BPE train,
    // packing, LM score
    val picks = Seq("q19_agg_pricing", "q20_star_join", "x03_minhash_lsh",
      "x06_knn_cosine", "x10_quality", "x44_chunk_dedup",
      "x82_substring_dedup", "x88_bpe_train", "x30_sequence_packing",
      "x97_lm_score",
      // r11 families with a data term: Morton bucketing + 2-D stat agg
      // over lineitem; KMV bottom-k value sample over documents;
      // IVF-PQ train/encode/search over embeddings (×4 per decade)
      "x122_zorder_skipping", "x119_kmv_quantiles", "x128_ivfpq_adc",
      // r12 families: NB train+model+classify over documents (the
      // native-featurizer scan + broadcast model join); the GD
      // trainer's 3 pinned-scan iterations (doc_id<2000 caps the
      // slice at sf0.1, so its data term saturates by design — the
      // tx family's data axis is COMMITS, measured by Scale10Probe's
      // txlog_fold rows instead)
      "x153_nb_classify", "x157_logit_train",
      // r13 families: keyed MERGE (4 range appends + pruned rewrite +
      // snapshot — the data term is the touched-dir rewrite + batch
      // write; docs are 500 → 2000 across this decade), mixed-
      // generation evolution read, and the JPEG SOF walk (doc_id<400
      // caps it — the walk is map-only, same class as x10)
      "x160_tx_merge", "x161_tx_evolve", "x164_jpeg_dims",
      // domain reweighting: one corpus scan into a domains-sized
      // state; the rounds are driver arithmetic — expect the scan band
      "x169_domain_reweight",
      // r14 families: STRING-key merge (append + optimizeHash
      // re-cluster + hash-pruned merge + snapshot — the hash-cluster
      // rewrite is the data term; docs 500 → 2000 across this decade),
      // its prune-decision audit (same build, manifest-sized output),
      // and the stats-overlap audit (5 appends + optimize + driver
      // arithmetic over manifests)
      "x170_tx_merge_string", "x171_tx_merge_pruned",
      "x172_tx_stats_overlap", "x173_tx_point_read",
      // r14 second half: RESTORE (appends + botched merge + takedown
      // + rollback — the materialization of one admitted dir is the
      // data term), small-dir COMPACTION (8 interleaved appends +
      // masked pack of the tail), the zero-copy clone fork (two
      // tables diverging, both read — the clone itself is metadata),
      // the EXIF APP1→TIFF walk (map-only, doc_id<400 caps it), the
      // TxStream replica (every version's reconciled delta through
      // idempotent MERGE — the replay is the data term), and the
      // registered data source (writer-built table + SQL view read)
      "x175_tx_restore", "x176_tx_compact", "x177_tx_clone",
      "x178_exif_orientation", "x179_tx_stream_replica",
      "x180_tx_datasource",
      // r14 close + r15: DESCRIBE DETAIL (manifest arithmetic),
      // rename/drop lineage reads, the SQL-DML life (intake + four
      // spark.sql statements over the pruned write paths — the
      // touched-dir rewrites are the data term), and the IS NULL
      // probe (reads only the null-carrying dir; the health row is
      // manifest arithmetic)
      "x181_tx_detail", "x182_tx_rename_drop", "x183_tx_sql_dml",
      "x184_tx_null_probe",
      // r16: the SQL door's read/DDL half (pure-SQL travel across a
      // clone fork + rename — four reads of the same docs; the
      // evolve-insert-update life; OPTIMIZE/RESTORE statements) and
      // the native streaming sink replica (every source version
      // reconciled through the sink's idempotent merge, twice across
      // a kill-and-resume — the replay is the data term)
      "x185_tx_sql_travel", "x186_tx_sql_ddl", "x187_tx_sql_optimize",
      "x188_tx_stream_sink",
      // r17: SemDeDup (the r16 driver artifact inflated x34 13–18s
      // against a 0.69s floor — this row makes the family's scale
      // band part of the committed evidence, so the next inflation
      // adjudicates from the artifact alone; x10's row is above),
      // the evolving SQL MERGE, the Bloom point read, and the JPEG
      // pixel decode (map-only, doc_id<500 caps it)
      "x34_semantic_dedup", "x189_tx_merge_evolve",
      "x192_tx_bloom_point", "x190_jpeg_pixels")
    // bare args narrow the run to matching families (prefix match,
    // the Scale10Probe convention) — the catalog-query loop only;
    // audio_vad runs on a full pass
    val onlyArgs = args.filterNot(_.startsWith("--")).toSeq
    val picked =
      if (onlyArgs.isEmpty) picks
      else picks.filter(n => onlyArgs.exists(n.startsWith))
    def floor(name: String, d: String): Double = {
      val q = Catalog.entries.find(_.name == name).get
      (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        q.build(spark, d).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    spark.read.parquet("/root/testdata/sf0.01/region.parquet").count()
    Console.err.println(f"[scale] ${"query"}%-24s ${"sf0.01"}%8s ${"sf0.1"}%8s ${"ratio"}%6s  (rows x10)")
    picked.foreach { n =>
      val a = floor(n, "/root/testdata/sf0.01")
      val b = floor(n, "/root/testdata/sf0.1")
      Console.err.println(f"[scale] $n%-24s $a%8.3f $b%8.3f ${b / a}%6.2f")
    }
    // audio family at FULL corpus width (the catalog queries cap at
    // doc_id<400 for oracle practicality, which would make their
    // ratio a fixed-cost reading): synthesize-decode-window-segment
    // over every document id — the true data term of the map-heavy
    // decode path plus the one media_id shuffle
    if (onlyArgs.isEmpty) locally {
      def one(d: String): Double = (1 to reps).map { _ =>
        val docs = spark.read.parquet(s"$d/documents.parquet")
          .select("doc_id")
        val t0 = System.nanoTime()
        graft.operators.Audio.vadSegments(graft.operators.Audio
          .audioWindows(spark, graft.operators.Audio
            .packVadWavs(spark, docs, "doc_id"))).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      val a = one("/root/testdata/sf0.01")
      val b = one("/root/testdata/sf0.1")
      Console.err.println(
        f"[scale] audio_vad_fullwidth    $a%8.3f $b%8.3f ${b / a}%6.2f")
    }
    spark.stop()
  }
}
