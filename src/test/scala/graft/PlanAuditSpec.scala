package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** Plan-shape regression guards: the properties the 100 TB design
  * depends on (pushdown, pruned read schemas, broadcast star joins,
  * map-side bounded ranking) asserted against the real catalog
  * queries, so a future refactor that silently loses one fails here
  * instead of in a cluster bill. */
class PlanAuditSpec extends SparkSpec {

  private def q(name: String): DataFrame =
    Catalog.entries.find(_.name == name).get.build(spark, sf("sf0.001"))

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  test("q01: filter and projection reach the parquet scan") {
    val plan = q("q01_scan_project").queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n$plan")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    // only the 4 referenced columns are read, not the 16-column table
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .forall(read.contains) && !read.contains("l_comment"),
      s"scan reads too much:\n$read")
  }

  test("q20: all three dimensions broadcast (no shuffled fact joins)") {
    val plan = q("q20_star_join").queryExecution.executedPlan.toString()
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 3, s"expected 3 broadcast joins, got $broadcasts:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact join got shuffled:\n$plan")
  }

  test("x06: ranking is a partial object-hash aggregate, not a window") {
    val plan = finalPlan(q("x06_knn_cosine"))
    val s = plan.toString()
    assert(!s.contains("Window"), s"ranking regressed to a window:\n$s")
    assert(s.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"top-k must be partial+final ObjectHashAggregate:\n$s")
  }

  test("x03: candidate generation has no join before verification") {
    val plan = finalPlan(q("x03_minhash_lsh")).toString()
    // exactly the two hs-lookup verification joins; pair generation
    // itself is aggregate + explode (no self-join, no size-cap join)
    val joins = plan.linesIterator.count(_.contains("Join"))
    assert(joins == 2, s"expected only the 2 verification joins, got $joins:\n$plan")
  }

  test("x03: the signature base is checkpoint-shared — the corpus is " +
      "tokenized once, not once per consumer branch") {
    // the banding aggregate and both verification lookups read the
    // localCheckpointed base (r18; its three consumers exchange on
    // DIFFERENT keys, so AQE stage reuse could never dedupe the three
    // tokenize passes the recompute form ran — the x35/x82 pattern).
    // The one corpus scan lives inside the checkpoint's own deferred
    // job, outside this consumer plan.
    val plan = q("x03_minhash_lsh").queryExecution.executedPlan.toString()
    val scans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans == 0 && plan.contains("ExistingRDD"),
      s"expected 0 direct corpus scans + checkpointed base, got $scans:\n$plan")
  }

  test("x35: tf is checkpoint-shared — the corpus is scanned and tokenized once, not three times") {
    // df, n_docs and the score join all derive from the localCheckpointed
    // tf table; before r17 each branch re-scanned and re-tokenized the
    // corpus (3× Scan parquet + Generate in the baseline plan)
    // (the single corpus scan+tokenize lives inside the checkpoint's
    // own deferred job, outside this consumer plan)
    val plan = q("x35_tfidf_topterms").queryExecution.executedPlan.toString()
    val scans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans == 0 && plan.contains("ExistingRDD"),
      s"expected 0 direct corpus scans + checkpointed tf, got $scans:\n$plan")
  }

  test("x82: the positioned-gram fan-out is checkpoint-shared — two corpus scans, not three") {
    // the keeper aggregate and the marked join both read the
    // localCheckpointed fan-out; only the gram pass and the rewrite
    // pass scan the corpus
    // (the gram pass scans the corpus inside the checkpoint's own
    // deferred job; the consumer plan carries only the rewrite scan)
    val plan = q("x82_substring_dedup").queryExecution.executedPlan.toString()
    val scans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans == 1 && plan.contains("ExistingRDD"),
      s"expected 1 direct corpus scan (rewrite) + checkpointed fan-out, got $scans:\n$plan")
  }

  test("x114: KMV build ranks k-bounded (TakeOrdered, no global sort); no cartesian, no window") {
    val plan = finalPlan(q("x114_kmv_distinct")).toString()
    // the bottom-k is a distributed TakeOrderedAndProject over the
    // hash-distinct — per-partition heaps, driver merges k rows; a
    // global Sort+Exchange here would be the 100 TB scale-killer
    assert(plan.contains("TakeOrderedAndProject"),
      s"KMV bottom-k must be TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"),
      s"unexpected cartesian/window in KMV plan:\n$plan")
  }

  test("x116: grouped KMV is a partial ObjectHashAggregate reading two columns; no corpus window") {
    val df = q("x116_overlap_matrix")
    val plan = finalPlan(df).toString()
    // the corpus-side build must be the bounded native aggregate,
    // partial map-side (two ObjectHashAggregate levels) — a Window
    // before any aggregate would mean the per-group sort came back
    assert(plan.linesIterator.count(l =>
        l.contains("ObjectHashAggregate") && l.contains("bottom_k_longs")) >= 2,
      s"grouped build must be partial+final bottom_k_longs:\n$plan")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_shipdate") && read.contains("l_partkey") &&
      !read.contains("l_comment") && !read.contains("l_extendedprice"),
      s"scan reads more than the two KMV columns:\n$read")
  }

  test("x112: bloom probe equi-joins the bit relation (hash join, no cartesian, no window)") {
    val plan = finalPlan(q("x112_bloom_membership")).toString()
    assert(plan.linesIterator.exists(l =>
        l.contains("HashJoin") && l.contains("bit")),
      s"bloom probe must equi-join on the bit position:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window") &&
      !plan.contains("NestedLoop"),
      s"unexpected cartesian/window/NLJ in bloom plan:\n$plan")
  }

  test("q19: aggregation is hash-based with map-side partial combine") {
    val plan = finalPlan(q("q19_agg_pricing"))
    val exchanges = plan.collect { case e: Exchange => e }
    val s = plan.toString()
    assert(s.contains("HashAggregate"), s"expected HashAggregate:\n$s")
    // partial + final around a single shuffle (plus the orderBy range
    // exchange at the top) — never more
    assert(exchanges.size <= 2, s"too many exchanges (${exchanges.size}):\n$s")
  }

  test("x33: PII scrub is map-only (no join, no aggregate, one sort exchange)") {
    val plan = finalPlan(q("x33_pii_redact"))
    val s = plan.toString()
    assert(!s.contains("Join"), s"scrub must not join:\n$s")
    assert(!s.contains("Aggregate"), s"scrub must not aggregate:\n$s")
    // only the final orderBy may exchange
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.size <= 1, s"scrub must be one scan + sort:\n$s")
  }

  test("x35: corpus-count broadcasts; df join is broadcast-or-hash, never NLJ") {
    // the df (vocabulary-sized) join is deliberately UNHINTED: AQE
    // broadcasts it at bench scale but may legitimately pick a
    // shuffled hash join on a web-scale vocabulary — both are fine;
    // what must never appear is a nested-loop/cartesian pairing, and
    // the 1-row corpus count must always broadcast
    val plan = finalPlan(q("x35_tfidf_topterms")).toString()
    assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin"),
      s"1-row corpus count must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"tf/df join must be an equi-join:\n$plan")
    val equiJoins = plan.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("SortMergeJoin"))
    assert(equiJoins >= 1, s"df must join tf as an equi-join:\n$plan")
  }

  test("x42: frequent-gram join is an unhinted equi-join; df filter precedes it") {
    // the gram-frequency side must be filtered to df >= minDf BEFORE
    // joining back (the build side holds only repeating grams), and
    // the join must never be a nested-loop pairing; broadcast vs
    // shuffled is AQE's call (the x35 lesson — no forced broadcast)
    val df = q("x42_boilerplate_rate")
    val plan = finalPlan(df).toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"gram join must be an equi-join:\n$plan")
    // STRUCTURAL, not textual: the optimized plan's gram join must
    // carry the __df filter INSIDE its frequency-side subtree — a
    // regression filtering after the join (build side = the full
    // vocabulary) would still print a "Filter ... __df" line somewhere
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    val joins = df.queryExecution.optimizedPlan.collect { case j: LJoin => j }
    val guarded = joins.exists(j =>
      Seq(j.left, j.right).exists(_.collectFirst {
        case f: LFilter if f.condition.references.exists(_.name == "__df") => f
      }.isDefined))
    assert(joins.nonEmpty && guarded,
      s"df >= minDf filter must sit under the join:\n" +
        df.queryExecution.optimizedPlan)
  }

  test("x82: span dedup never cartesians; the dup-tail filter sits under the occurrence join") {
    // the duplicated-gram side must be filtered to __cnt >= 2 BEFORE
    // joining back over the corpus occurrences (the build side holds
    // only grams that repeat — the x42 lesson at span granularity),
    // and no stage may degrade to a nested-loop pairing
    val df = q("x82_substring_dedup")
    val plan = finalPlan(df).toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span dedup must stay equi-join only:\n$plan")
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    val joins = df.queryExecution.optimizedPlan.collect { case j: LJoin => j }
    val guarded = joins.exists(j =>
      Seq(j.left, j.right).exists(_.collectFirst {
        case f: LFilter if f.condition.references.exists(_.name == "__cnt") => f
      }.isDefined))
    assert(joins.nonEmpty && guarded,
      s"__cnt >= 2 filter must sit under the occurrence join:\n" +
        df.queryExecution.optimizedPlan)
  }

  test("x84: collocations rank as a k-bounded TakeOrdered; minCount prunes before the term joins") {
    val df = q("x84_collocations")
    val plan = finalPlan(df).toString()
    // top-k must be a per-task bounded heap, never a corpus sort
    assert(plan.contains("TakeOrderedAndProject"),
      s"collocation ranking must be k-bounded:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no unbounded cartesian (1-row broadcast totals are fine):\n$plan")
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    val joins = df.queryExecution.optimizedPlan.collect { case j: LJoin => j }
    val guarded = joins.exists(j =>
      Seq(j.left, j.right).exists(_.collectFirst {
        case f: LFilter if f.condition.references.exists(_.name == "c_xy") => f
      }.isDefined))
    assert(guarded,
      s"c_xy >= minCount must prune the pair tail before the term joins:\n" +
        df.queryExecution.optimizedPlan)
  }

  test("x43: per-row-rate sampling is map-only (no join, no aggregate)") {
    val plan = finalPlan(q("x43_rate_sample"))
    val s = plan.toString()
    assert(!s.contains("Join"), s"rate sample must not join:\n$s")
    assert(!s.contains("Aggregate"), s"rate sample must not aggregate:\n$s")
    // only the final orderBy may exchange
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.size <= 1, s"rate sample must be one scan + sort:\n$s")
  }

  test("x47: hash split is map-only (no join, no aggregate, one sort exchange)") {
    // the split must stay a pure row function — a groupBy/window-based
    // assignment would shuffle the corpus and break append-stability
    val plan = finalPlan(q("x47_hash_split"))
    val s = plan.toString()
    assert(!s.contains("Join"), s"hash split must not join:\n$s")
    assert(!s.contains("Aggregate"), s"hash split must not aggregate:\n$s")
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.size <= 1, s"hash split must be one scan + sort:\n$s")
  }

  test("x48: leak-safe split adds ONE label join over the pair relation") {
    // the assignment layer on top of pair generation must be exactly:
    // cluster labels left-joined back + a map-only draw — label
    // propagation's own bounded joins live behind the localCheckpoint
    // (a LogicalRDD leaf), so the logical plan shows only the
    // assignment join and no aggregate (audited on optimizedPlan: AQE
    // hides executed joins inside materialized query stages)
    val df = q("x48_leaksafe_split")
    val logical = df.queryExecution.optimizedPlan
    val joins = logical.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 1,
      s"leak-safe split must add exactly one assignment join, got ${joins.size}:\n$logical")
    assert(joins.head.joinType.sql == "LEFT OUTER",
      s"label join must be a left join (singletons keep themselves): ${joins.head.joinType}")
    assert(logical.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty, s"assignment must not aggregate:\n$logical")
  }

  test("x56: manifest is window -> bounded explode -> one hash agg; no join") {
    val plan = finalPlan(q("x56_packing_manifest"))
    val s = plan.toString()
    assert(!s.contains("Join"), s"manifest must not join:\n$s")
    // exactly the packing running-sum window; the span attribution is
    // a generate + hash aggregate, never a second window
    assert(s.linesIterator.count(_.trim.startsWith("Window")) <= 1,
      s"manifest must not add windows beyond the packing sum:\n$s")
    assert(s.contains("HashAggregate"),
      s"span overlap must fold in a hash aggregate:\n$s")
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.size <= 3,
      s"manifest: pack shuffle + agg shuffle + final sort only:\n$s")
  }

  test("x57: snapshot diff is ONE equi-join on the id; no scale-killers") {
    val plan = finalPlan(q("x57_snapshot_diff"))
    val s = plan.toString()
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"diff must never cross-join:\n$s")
    val joins = s.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joins == 1, s"diff must be exactly one id join, got $joins:\n$s")
    assert(!s.contains("Aggregate"), s"diff must not aggregate:\n$s")
  }

  test("x58: rejection audit never cross-joins and ranks only the bounded drop union") {
    val plan = finalPlan(q("x58_rejection_audit"))
    val s = plan.toString()
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"audit must never cross-join:\n$s")
    // the consistent sample's window runs over the dropped-id union
    // (ids + reason strings), never over a text-carrying frame
    val windowLines = s.linesIterator.filter(_.trim.startsWith("Window")).toSeq
    assert(windowLines.forall(!_.contains("__clean")),
      s"sample window must rank id frames, not text:\n$windowLines")
  }

  test("x70/x71: histogram state is one scan + one hash agg; drift is one join, two scans") {
    // the mergeable-state contract: building a batch's histogram state
    // touches the batch ONCE (scan -> partial/final hash agg, a single
    // exchange, no join, no window); everything downstream (quantile
    // readout, drift) runs over the model-sized state
    val state = operators.TextAnalysis.profileHistState(
      Tables.documents(spark, sf("sf0.001")), "source", "text", 64)
    val sp = finalPlan(state)
    val ss = sp.toString()
    assert(!ss.contains("Join"), s"state build must not join:\n$ss")
    assert(!ss.contains("Window"), s"state build must not window:\n$ss")
    // AQE hides the Exchange inside a leaf ShuffleQueryStage, so count
    // from the rendered tree, not a collect
    assert(ss.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"state build must shuffle exactly once:\n$ss")
    // drift: each snapshot scanned once (totals come from a window over
    // the joined state, not a second pass), one state-level join
    val dp = finalPlan(q("x71_profile_drift"))
    val ds = dp.toString()
    val scans = ds.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans == 2, s"drift must scan each snapshot once, got $scans:\n$ds")
    assert(ds.linesIterator.count(l => l.contains("Join")) == 1,
      s"drift must join exactly once:\n$ds")
    // quantile readout: the ps join must broadcast, never shuffle
    val qs = finalPlan(q("x70_hist_quantiles")).toString()
    assert(!qs.contains("SortMergeJoin") && !qs.contains("ShuffledHashJoin"),
      s"quantile position join must broadcast:\n$qs")
  }

  test("x76: dsir scoring join broadcasts; selection is k-bounded TakeOrdered, not a global sort") {
    val plan = finalPlan(q("x76_dsir_select"))
    val s = plan.toString()
    // the model is bucket-bounded — the corpus-sized scoring join must
    // broadcast it, never shuffle the exploded feature stream for an SMJ
    assert(s.contains("BroadcastHashJoin"),
      s"scoring join must broadcast the bucket-bounded model:\n$s")
    // Gumbel-top-k must plan as the per-task k-bounded heap
    assert(s.contains("TakeOrderedAndProject"),
      s"selection must be TakeOrderedAndProject, not a global sort:\n$s")
    assert(!s.contains("CartesianProduct"),
      s"only 1-row totals may cross-join (as BNLJ):\n$s")
  }

  test("x45: threshold side reads only the value column and broadcasts one row") {
    // the whole point of quantileBuckets is NO corpus sort: the
    // threshold aggregate must scan a pruned single-column schema,
    // broadcast its 1 row, and the bucket assignment must be a
    // projection — a Window/ntile regression would show a corpus-wide
    // Sort below an Exchange
    val plan = finalPlan(q("x45_quantile_bucket")).toString()
    assert(!plan.contains("Window"), s"bucketing regressed to ntile:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"1-row threshold frame must broadcast:\n$plan")
    val thresholdScan = plan.linesIterator
      .filter(_.contains("ReadSchema"))
      .exists(l => l.contains("n_chars") && !l.contains("doc_id"))
    assert(thresholdScan, s"threshold scan must read only n_chars:\n$plan")
  }

  test("x34: pairing joins on the cell id, cosine only after the equi-join") {
    val plan = finalPlan(q("x34_semantic_dedup")).toString()
    // the within-cell self-join must be an equi-join keyed on __cell —
    // a cross/nested-loop pairing would be the |corpus|^2 shape
    assert(!plan.contains("CartesianProduct"),
      s"semantic pairing must never cross-join:\n$plan")
    assert(plan.contains("__cell"), s"pair join must key on the cell id:\n$plan")
  }

  test("pipeline gold from silver: one query over the silver parquet, one code_site shuffle, no join shuffle") {
    import graft.pipeline.{AirQuality, Pollutants, RunPipeline}
    // gold reads the one silver table once per plan branch (the means
    // aggregate and the main rows), never the CSV sources, and the
    // N-way join is a keyed aggregate that shares the windows'
    // code_site exchange
    val csvs = RunPipeline.listCsvs(GeodairCorpus.corpus().toString)
    val out = GeodairCorpus.tmp("gold_from_silver").toString
    RunPipeline.run(spark, csvs, out, "plan")
    val active = Pollutants.default.filter(p => Set("01", "04")(p.code))
    val gold = AirQuality.goldFromSilver(
      spark.read.parquet(s"$out/silver"), active.map(_.tableName))
    val plan = finalPlan(gold).toString()
    assert(!plan.toLowerCase.contains("scan csv"),
      s"gold must not re-touch the CSV sources:\n$plan")
    val scans = plan.linesIterator.filter(_.contains("Scan parquet")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains(s"$out/silver")),
      s"gold must scan only the silver parquet:\n$plan")
    // AQE hides each Exchange inside a leaf query stage, so count from
    // the rendered tree: the code_site exchange is the only one that
    // moves silver rows; the means' per-partition partials meet in a
    // SinglePartition exchange and the 1-row result is broadcast
    val shuffles = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange") &&
        !l.contains("ReusedExchange") && !l.contains("SinglePartition"))
    assert(shuffles == 1, s"gold must shuffle exactly once:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(code_site"), plan)
    assert(!plan.contains("SortMergeJoin"), s"gold must not join by shuffle:\n$plan")
    // and the result is the table the live-lineage gold builds
    val bronze = AirQuality.withPartitionColumnsFromFilename(
      AirQuality.readBronzeCsv(spark, AirQuality.filesPassingHeaderGate(spark, csvs)))
    val live = AirQuality.gold(active.map(p =>
      p.tableName -> AirQuality.silver(bronze.where(col("pollutant") === p.code))).toMap)
    assert(gold.columns.toSeq == live.columns.toSeq)
    assert(gold.count() == live.count() &&
      gold.exceptAll(live).isEmpty && live.exceptAll(gold).isEmpty,
      "goldFromSilver must be row-identical to gold")
  }

  test("x91: BPE training reads only the text column; rounds and audit are hash aggs, no join/window") {
    val st = graft.operators.Bpe.wordState(
      Tables.documents(spark, sf("sf0.001")), "text")
    val read = st.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("text") && !read.contains("source") &&
      !read.contains("lang"),
      s"wordState must prune the scan to the text column:\n$read")
    val plan = finalPlan(q("x91_bpe_stats")).toString()
    assert(!plan.contains("Window"),
      s"BPE stats must never window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("Join"),
      s"the state-only audit must not join:\n$plan")
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final hash aggregation:\n$plan")
  }

  test("x89: segmentation joins the distinct vocabulary equi-style (no NLJ), one agg per doc") {
    val plan = finalPlan(q("x89_bpe_segment")).toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"vocabulary join must stay an equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi-join with the segmented vocabulary:\n$plan")
  }

  test("x92: heavy keys rank as a k-bounded TakeOrdered; totals broadcast one row") {
    val plan = finalPlan(q("x92_heavy_keys")).toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a bounded heap, not a global sort:\n$plan")
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"key counting must be a hash agg with map-side combine:\n$plan")
  }

  test("q42: the 6-way star broadcasts its dimensions; at most the fact-fact join shuffles") {
    val plan = finalPlan(q("q42_local_supplier_volume")).toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"star join must stay equi-join:\n$plan")
    assert(plan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4,
      s"dimensions must broadcast:\n$plan")
    assert(plan.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
      s"only lineitem-orders may shuffle:\n$plan")
  }

  test("q46: min-cost join-back decorrelates with no window; dims broadcast") {
    val plan = finalPlan(q("q46_min_cost_supplier")).toString()
    assert(!plan.contains("Window"),
      s"Q2 shape must be min + join-back, not row_number-over-everything:\n$plan")
    assert(plan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"supplier/nation/region dims must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"join-back must stay equi-join:\n$plan")
  }

  test("q47: EXISTS/NOT EXISTS run as semi + anti joins, no window") {
    val plan = finalPlan(q("q47_waiting_supplier")).toString()
    assert(plan.contains("LeftSemi"),
      s"the other-supplier EXISTS must be a left semi join:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"the no-other-late NOT EXISTS must be a left anti join:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
      s"Q21 shape regressed:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 must be a bounded heap:\n$plan")
  }

  test("q49/q50: correlated predicates run as semi/anti equi-joins") {
    val p49 = finalPlan(q("q49_priority_check")).toString()
    assert(p49.contains("LeftSemi"),
      s"Q4's EXISTS must be a left semi join:\n$p49")
    assert(!p49.contains("Window") && !p49.contains("CartesianProduct"),
      s"Q4 shape regressed:\n$p49")
    // initial plan, not finalPlan: at sf0.001 the excluded-supplier
    // set is EMPTY and AQE (correctly) eliminates the anti join
    // outright — the shape guard is about what the planner emits
    val p50 = q("q50_supplier_relationship")
      .queryExecution.executedPlan.toString()
    assert(p50.contains("LeftAnti"),
      s"Q16's NOT IN must be a left anti join:\n$p50")
    assert(!p50.contains("CartesianProduct") &&
      !p50.contains("BroadcastNestedLoopJoin"),
      s"Q16 shape regressed:\n$p50")
  }

  test("q48: the no-recent-order gate is an anti join with the date filter pushed to the scan") {
    val df = q("q48_global_sales_opportunity")
    val plan = finalPlan(df).toString()
    assert(plan.contains("LeftAnti"),
      s"NOT EXISTS must decorrelate to a left anti join:\n$plan")
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"the order-date filter must reach the orders scan:\n$plan")
    // the only cartesian is the 1-row aggregate broadcast (the
    // audited scalar-subquery pattern)
    assert(!plan.contains("CartesianProduct"),
      s"scalar gate must broadcast, not cartesian:\n$plan")
  }

  test("q51/q52: correlated aggregates decorrelate to agg + join-back, no window") {
    // initial plans: at sf0.001 the qualifying sets can be tiny and
    // AQE legitimately rewrites join strategies — the guard is about
    // what the planner emits
    val p51 = q("q51_small_quantity_revenue")
      .queryExecution.executedPlan.toString()
    assert(p51.contains("LeftSemi"),
      s"Q17's brand restriction must semi-prune lineitem first:\n$p51")
    assert(!p51.contains("Window") && !p51.contains("CartesianProduct"),
      s"Q17 shape must be per-part agg + join-back:\n$p51")
    val p52 = q("q52_part_promotion_supplier")
      .queryExecution.executedPlan.toString()
    assert(p52.linesIterator.count(_.contains("LeftSemi")) >= 2,
      s"Q20's IN chain must run as a semi-join ladder:\n$p52")
    assert(!p52.contains("Window") && !p52.contains("CartesianProduct"),
      s"Q20 shape regressed:\n$p52")
    assert(p52.contains("PushedFilters") && p52.contains("p_name"),
      s"the part-name filter must reach the part scan:\n$p52")
  }

  test("q53/q54: nation-pair and profit chains broadcast every dim, facts join on keys") {
    val p53 = q("q53_volume_shipping").queryExecution.executedPlan.toString()
    // the two nation copies filter BEFORE joining: the n_name IN
    // predicate must reach the nation scans as a pushed filter
    assert(p53.contains("PushedFilters") && p53.contains("In(n_name"),
      s"Q7's nation-pair filter must push into the nation scans:\n$p53")
    assert(p53.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4,
      s"Q7's dims (customer, supplier, 2x nation) must broadcast:\n$p53")
    assert(!p53.contains("Window") && !p53.contains("CartesianProduct"),
      s"Q7 shape regressed:\n$p53")
    val p54 = q("q54_product_type_profit").queryExecution.executedPlan.toString()
    assert(p54.contains("PushedFilters") &&
      p54.contains("StringEndsWith(p_name"),
      s"Q9's part-name filter must reach the part scan:\n$p54")
    assert(!p54.contains("Window"), s"Q9 is a plain agg over joins:\n$p54")
  }

  test("q55/q57: global-scalar gates are 1-row broadcasts, never windows") {
    val p55 = q("q55_important_part_value").queryExecution.executedPlan.toString()
    assert(p55.contains("BroadcastNestedLoopJoin") ||
      p55.contains("BroadcastExchange"),
      s"Q11's global total must broadcast back as 1 row:\n$p55")
    assert(!p55.contains("Window") && !p55.contains("CartesianProduct"),
      s"Q11's HAVING gate must not become a window or cartesian:\n$p55")
    val p57 = q("q57_top_supplier").queryExecution.executedPlan.toString()
    assert(!p57.contains("Window"),
      s"Q15's max-revenue join-back must not use a window:\n$p57")
    assert(p57.contains("BroadcastNestedLoopJoin") ||
      p57.contains("BroadcastExchange"),
      s"Q15's 1-row max must broadcast:\n$p57")
  }

  test("q56: the order filter stays INSIDE the left outer join") {
    val plan = q("q56_customer_distribution")
      .queryExecution.executedPlan.toString()
    // the o_orderpriority predicate must filter the orders SIDE (a
    // pushed scan filter), never sit above the outer join where it
    // would silently drop order-less customers
    assert(plan.contains("PushedFilters") &&
      plan.contains("Not(EqualTo(o_orderpriority"),
      s"Q13's order filter must push into the orders scan:\n$plan")
    assert(plan.contains("LeftOuter"),
      s"Q13 must keep the left outer join:\n$plan")
  }

  test("q58: the disjunction's per-side hulls reach both scans") {
    val plan = q("q58_disjunctive_revenue")
      .queryExecution.executedPlan.toString()
    // the explicit hull pre-filters are what keep a 100 TB run from
    // scanning both tables whole under an un-pushable OR-of-ANDs
    assert(plan.contains("In(p_brand"),
      s"Q19's brand hull must reach the part scan:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_quantity") ||
      plan.contains("AtLeastNNulls") || plan.contains("l_quantity"),
      s"Q19's quantity hull must reach the lineitem scan:\n$plan")
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.exists(r => r.contains("l_quantity") &&
      !r.contains("l_shipdate")),
      s"the lineitem scan must prune to the referenced columns:\n$plan")
  }

  test("q59/q60: share-of-aggregate and two-way counting stay single-agg shapes") {
    val p59 = q("q59_market_share").queryExecution.executedPlan.toString()
    // numerator and denominator come from ONE grouped aggregate (the
    // conditional-sum split), never two scans or a self-join; the
    // customer-region restriction is a semi join; the region filter
    // pushes into its scan
    assert(p59.contains("LeftSemi"),
      s"Q8's region restriction must be a semi join:\n$p59")
    assert(p59.contains("EqualTo(r_name,AMERICA)"),
      s"Q8's region filter must push into the region scan:\n$p59")
    assert(!p59.contains("Window") && !p59.contains("CartesianProduct"),
      s"Q8's share must come from one conditional aggregate:\n$p59")
    val p60 = q("q60_priority_counting").queryExecution.executedPlan.toString()
    assert(p60.contains("GreaterThanOrEqual(l_shipdate"),
      s"Q12's date window must push into the lineitem scan:\n$p60")
    assert(!p60.contains("Window"),
      s"Q12's two-way counts are one conditional aggregate:\n$p60")
    val reads60 = p60.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads60.exists(r => r.contains("o_orderpriority") &&
      !r.contains("o_totalprice")),
      s"the orders scan must prune to the two referenced columns:\n$p60")
  }

  test("x122/x125/x126: z-order audit never sorts; PQ broadcasts the codebook and ranks map-side") {
    // the skipping audit is two hash aggs over bucket stats — a Sort
    // or Window would mean the bucketing regressed to ordering
    val p122 = finalPlan(q("x122_zorder_skipping")).toString()
    // the single Sort is the 2-row output orderBy("layout"); anything
    // more means the bucketing regressed to ordering the data
    assert(p122.linesIterator.count(_.trim.matches(".*\\bSort\\b.*")) <= 1 &&
      !p122.contains("Window"),
      s"z-order audit must not sort the data:\n$p122")
    val reads122 = p122.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads122.forall(r => r.contains("l_partkey") &&
      !r.contains("l_extendedprice")),
      s"the audit must read only the two key columns:\n$reads122")
    // PQ: the model-sized codebook relation broadcasts; ADC ranking
    // is the bounded TopKPairs object-hash aggregate, not a window
    val p126 = finalPlan(q("x126_pq_adc")).toString()
    assert(p126.contains("BroadcastHashJoin"),
      s"the codebook join must broadcast:\n$p126")
    assert(!p126.contains("Window"),
      s"ADC ranking regressed to a window:\n$p126")
    assert(p126.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"top-k must be partial+final ObjectHashAggregate:\n$p126")
  }

  test("x134/x137: Hamming-LSH pairs never go all-pairs or cartesian") {
    // candidate generation must be the bounded bucket collect +
    // in-row pair expansion: no cartesian product, no sort-merge
    // self-join of the signature relation, no window
    Seq("x134_audio_neardup", "x137_image_neardup").foreach { name =>
      val p = finalPlan(q(name)).toString()
      assert(!p.contains("CartesianProduct"),
        s"$name went all-pairs:\n$p")
      assert(!p.contains("Window"), s"$name uses a window:\n$p")
      // the capped bucket collect is an ObjectHashAggregate
      assert(p.contains("ObjectHashAggregate"),
        s"$name lost the bounded bucket collect:\n$p")
    }
  }

  test("x136: the curate funnel decodes once per gate chain, no cartesian on data") {
    val p = finalPlan(q("x136_audio_curate")).toString()
    // the only cross joins are the three 1-row funnel counters
    val crosses = p.linesIterator.count(_.contains("CartesianProduct"))
    assert(crosses == 0, s"funnel cartesian-joins data:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the funnel's joins must broadcast (1-row/bounded sides):\n$p")
  }

  test("tx merge/tombstone reads: anti-joins broadcast the change-sized " +
      "side, never cartesian, never window") {
    // x160's final snapshot is a plain pruned read; the MERGE's write
    // path anti-join runs inside the builder — audit the read the
    // user actually issues after a merge+tombstone history
    import graft.operators.TxLog
    val root = java.nio.file.Files.createTempDirectory("graft_plan_tx")
      .toString + "/t"
    import spark.implicits._
    val data = (0 until 2000).map(i => (i.toLong, s"r-$i")).toDF("id", "text")
    TxLog.append(spark, root, data, Some("id"))
    TxLog.tombstone(spark, root,
      (0 until 2000 by 7).map(i => Tuple1(i.toLong)).toDF("id"), "id")
    val masked = TxLog.snapshot(spark, root)
    val plan = finalPlan(masked).toString()
    // the mask is ONE broadcast anti-join against the takedown-sized
    // key set — no shuffle of the data side, no cartesian, no window
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone mask must be a broadcast anti-join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"),
      s"mask plan regressed:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the data side must not shuffle for a takedown-sized mask:\n$plan")
  }

  test("x173 snapshotKeys: the point read is a broadcast semi-join over " +
      "the pruned dirs — the data side never shuffles for a fetch batch") {
    import graft.operators.TxLog
    val root = java.nio.file.Files.createTempDirectory("graft_plan_skeys")
      .toString + "/t"
    import spark.implicits._
    val data = (0 until 2000)
      .map(i => (f"doc-$i%06d", s"r-$i")).toDF("key", "text")
    TxLog.append(spark, root, data, Some("key"))
    TxLog.optimizeHash(spark, root, "key", buckets = 16)
    val got = TxLog.snapshotKeys(spark, root,
      Seq("doc-000003", "doc-001717").toDF("key"), "key")
    val plan = finalPlan(got).toString()
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"point read must be a broadcast semi-join:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"the data side must not shuffle for a fetch-batch semi-join:\n$plan")
  }
}
