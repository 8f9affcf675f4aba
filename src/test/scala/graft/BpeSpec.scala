package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** BPE tokenizer training (x88–x90): greedy-merge semantics on a
  * hand-computable fixture, mergeable word state, early stop, and the
  * dictionary-segmentation contract. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("train learns pairs by weighted count with deterministic tie-break") {
    // words: "abab" x3, "ab" x2 -> pairs: (a,b) weighted 3*2+2*1=8,
    // (b,a) 3*1=3 -> merge 1 = (a,b). Then "ab ab" symbols [ab,ab]
    // and [ab] -> pair (ab,ab)=3 -> merge 2 = (ab,ab).
    val st = Bpe.wordState(docs(1L -> "abab ab", 2L -> "abab ab abab"), "text")
    val m = Bpe.train(st, merges = 2)
    assert(m === Seq(Bpe.Merge(1, "a", "b", 8L), Bpe.Merge(2, "ab", "ab", 3L)))
  }

  test("merge application is greedy leftmost (the BPE rule)") {
    // "aaa" under merge (a,a): leftmost pair merges first -> [aa, a]
    val sym = Bpe.applyMerges(Bpe.symEncode(lit("aaa")),
      Seq(Bpe.Merge(1, "a", "a", 0L)))
    val out = spark.range(1).select(Bpe.symsOf(sym).as("s")).head.getSeq[String](0)
    assert(out === Seq("aa", "a"))
  }

  test("train stops early when no adjacent pair remains") {
    // single-char words only: zero mergeable pairs from round 1
    val st = Bpe.wordState(docs(1L -> "a b c a"), "text")
    assert(Bpe.train(st, merges = 5).isEmpty)
    // one merge possible, then [ab] has no pairs and (a b) spans words
    val st2 = Bpe.wordState(docs(1L -> "ab ab a b"), "text")
    val m2 = Bpe.train(st2, merges = 5)
    assert(m2 === Seq(Bpe.Merge(1, "a", "b", 2L)))
  }

  test("grown word state trains identically to one-shot (x90 contract)") {
    val all = Tables.documents(spark, sf("sf0.001"))
    val a = Bpe.wordState(all.where(col("doc_id") % 2 === 0), "text")
    val b = Bpe.wordState(all.where(col("doc_id") % 2 === 1), "text")
    val grown = Bpe.train(Bpe.mergeWordStates(Seq(a, b)), merges = 4)
    val oneShot = Bpe.train(Bpe.wordState(all, "text"), merges = 4)
    assert(grown === oneShot)
    assert(grown.size === 4)
  }

  test("segmentCounts: per-doc totals match direct per-word segmentation") {
    val d = docs(1L -> "hello hello world", 2L -> "", 3L -> "a")
    val merges = Seq(Bpe.Merge(1, "l", "l", 0L), Bpe.Merge(2, "h", "e", 0L))
    val out = Bpe.segmentCounts(d, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
    // "hello" -> [he,ll,o] = 3 syms; "world" -> 5 syms; "a" -> 1
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 3L, 11L), (3L, 1L, 1L)))   // doc 2 empty: no row
  }

  test("segmentStats: exact totals and ppm from the state alone") {
    val st = Bpe.wordState(docs(1L -> "aa aa b"), "text")
    val m = Bpe.train(st, merges = 1)
    assert(m === Seq(Bpe.Merge(1, "a", "a", 2L)))
    val r = Bpe.segmentStats(st, m).head
    // vocab {aa:2, b:1}; words 3; chars 2·2+1=5; tokens: [aa]·2 + [b] = 3
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      (2L, 3L, 5L, 3L))
    assert(r.getLong(4) === 5L * 1000000L / 3L)
    assert(r.getLong(5) === 1000000L)
  }

  test("RunTokenizer: corpus run == from-state run; artifact readable") {
    val out1 = java.nio.file.Files.createTempDirectory("graft_tok1").toString
    val out2 = java.nio.file.Files.createTempDirectory("graft_tok2").toString
    val r1 = graft.pipeline.RunTokenizer.run(spark, sf("sf0.001"), out1,
      merges = 4, fromState = false)
    // the grown-state path: state written by hand here stands in for
    // RunIntake's bpe_state/ (same wordState algebra)
    val statePath = s"$out2/state"
    Bpe.wordState(Tables.documents(spark, sf("sf0.001")), "text")
      .write.parquet(statePath)
    val r2 = graft.pipeline.RunTokenizer.run(spark, statePath, out2,
      merges = 4, fromState = true)
    assert(r1.filterNot(_._1 == "millis").filterNot(_._1 == "from_state") ===
      r2.filterNot(_._1 == "millis").filterNot(_._1 == "from_state"))
    val a1 = spark.read.parquet(s"$out1/merges.parquet").orderBy("rank").collect()
    val a2 = spark.read.parquet(s"$out2/merges.parquet").orderBy("rank").collect()
    assert(a1.map(_.toSeq).toSeq === a2.map(_.toSeq).toSeq)
    assert(a1.length === 4)
    assert(new java.io.File(s"$out1/report.json").exists())
    // the consume side round-trips: loaded merges == the ones trained
    val loaded = Bpe.loadMerges(spark, s"$out1/merges.parquet")
    val direct = Bpe.train(
      Bpe.wordState(Tables.documents(spark, sf("sf0.001")), "text"), 4)
    assert(loaded === direct)
  }

  test("retrainAudit: frozen merges pay a measurable token tax on the grown corpus") {
    // old corpus: "ab ab" -> merge (a,b). grown: + "cd cd cd" ->
    // fresh merge is (c,d) (count 3 beats 2). On the grown state:
    // old merges: ab=1 sym x2 + cd=2 syms x3 = 8 tokens;
    // fresh:      ab=2 x2 + cd=1 x3 = 7 tokens; words = 5
    val oldSt = Bpe.wordState(docs(1L -> "ab ab"), "text")
    val newSt = Bpe.wordState(docs(1L -> "ab ab", 2L -> "cd cd cd"), "text")
    val r = Bpe.retrainAudit(oldSt, newSt, merges = 1).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === (5L, 8L, 7L))
    assert(r.getLong(3) === 8L * 1000000L / 7L)
    // no drift: auditing a state against itself reads exactly 1e6
    val same = Bpe.retrainAudit(newSt, newSt, merges = 1).head
    assert(same.getLong(1) === same.getLong(2) &&
      same.getLong(3) === 1000000L)
  }

  test("noveltyAudit: distinct-word and occurrence-mass novelty vs the grown state") {
    val state = Bpe.wordState(docs(1L -> "aa bb aa"), "text")
    // batch: aa (seen), cc cc, dd -> vocab 3, new 2; words 4, new 3
    val r = Bpe.noveltyAudit(state, docs(2L -> "aa cc cc dd"), "text").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      (3L, 2L, 4L, 3L))
    assert(r.getLong(4) === 2L * 1000000L / 3L)
    assert(r.getLong(5) === 750000L)
    // a batch the state fully covers reads zero novelty
    val z = Bpe.noveltyAudit(state, docs(3L -> "bb aa"), "text").head
    assert(z.getLong(1) === 0L && z.getLong(3) === 0L &&
      z.getLong(4) === 0L && z.getLong(5) === 0L)
    // an EMPTY batch word state (every doc rejected upstream) has no
    // denominators: ppm fields read null — callers (RunIntake's
    // novelty keys) must omit, not getLong (the r8 intake crash)
    val e = Bpe.noveltyAuditFromState(state,
      state.where(org.apache.spark.sql.functions.lit(false))).head
    assert(e.getLong(0) === 0L)
    assert(e.isNullAt(4) && e.isNullAt(5))
  }

  test("RunTokenizer.runOn fails fast with a clear error on an empty word state") {
    val empty = Bpe.wordState(docs(1L -> "aa"), "text")
      .where(org.apache.spark.sql.functions.lit(false))
    val out = java.nio.file.Files.createTempDirectory("graft_tok_empty")
    val ex = intercept[IllegalArgumentException] {
      graft.pipeline.RunTokenizer.runOn(spark, empty, out.toString,
        merges = 4, fromState = true)
    }
    assert(ex.getMessage.contains("word state is empty"))
  }

  test("interacts: the batching safety predicate") {
    def m(l: String, r: String) = Bpe.Merge(0, l, r, 0L)
    // shared symbol in any position
    assert(Bpe.interacts(m("a", "b"), m("b", "c")))
    assert(Bpe.interacts(m("a", "b"), m("c", "a")))
    assert(Bpe.interacts(m("a", "b"), m("a", "c")))
    assert(Bpe.interacts(m("a", "a"), m("a", "a")))
    // earlier merge MINTS a later side: applying (a,bc) creates "abc"
    // symbols, so a pre-round (abc,d) count would go stale
    assert(Bpe.interacts(m("a", "bc"), m("abc", "d")))
    assert(Bpe.interacts(m("a", "bc"), m("d", "abc")))
    // and the reverse direction (later would mint an earlier side)
    assert(Bpe.interacts(m("abc", "d"), m("a", "bc")))
    // disjoint symbols, no minting: safe — including the two-paths-to-
    // one-symbol case (a,bc) vs (ab,c): patterns can't overlap under
    // per-symbol delimiters, and neither mints the other's SIDES
    assert(!Bpe.interacts(m("a", "b"), m("c", "d")))
    assert(!Bpe.interacts(m("a", "bc"), m("ab", "c")))
  }

  test("trainBatched: batch=1 IS sequential train; disjoint hot pairs batch in one round") {
    val corpus = docs(1L -> "ab ab ab ab ab cd cd cd ef ef",
      2L -> "ab ab cd ef qq")
    val st = Bpe.wordState(corpus, "text")
    val seq3 = Bpe.train(st, merges = 3)
    // (a,b):7 > (c,d):4 > (e,f):3 — all symbol-disjoint
    assert(seq3 === Seq(Bpe.Merge(1, "a", "b", 7L),
      Bpe.Merge(2, "c", "d", 4L), Bpe.Merge(3, "e", "f", 3L)))
    assert(Bpe.trainBatched(st, merges = 3, batch = 1, window = 1) === seq3)
    // batched: all three non-interacting -> ONE round, same table
    assert(Bpe.trainBatched(st, merges = 3, batch = 4, window = 8) === seq3)
    // determinism: replays bit-identically
    assert(Bpe.trainBatched(st, merges = 3, batch = 4, window = 8) === seq3)
  }

  test("trainBatched: interacting candidates defer to later rounds; total cap truncates mid-round") {
    // (a,b):5 and (b,c):5 share b -> round 1 accepts only (a,b)
    // (lex tie-break), round 2 sees (ab,c):5
    val st = Bpe.wordState(docs(1L -> "abc abc abc abc abc"), "text")
    val batched = Bpe.trainBatched(st, merges = 2, batch = 4, window = 8)
    assert(batched === Seq(Bpe.Merge(1, "a", "b", 5L),
      Bpe.Merge(2, "ab", "c", 5L)))
    assert(batched === Bpe.train(st, merges = 2))
    // cap truncates a round's accepted list to exactly `merges`
    val st2 = Bpe.wordState(docs(1L -> "ab ab cd cd ef"), "text")
    val two = Bpe.trainBatched(st2, merges = 2, batch = 4, window = 8)
    assert(two === Seq(Bpe.Merge(1, "a", "b", 2L), Bpe.Merge(2, "c", "d", 2L)))
  }

  test("trainBatched == train on the real corpus when every round batches safely") {
    // the strong cross-check at fixture scale: on sf0.001 documents,
    // batch=1 equals the batched trainer's own sequential mode AND
    // the historic sequential results stay pinned by x88's oracle
    val st = Bpe.wordState(Tables.documents(spark, sf("sf0.001")), "text")
    val s8 = Bpe.train(st, merges = 8)
    assert(s8.size === 8)
    assert(Bpe.trainBatched(st, merges = 8, batch = 1, window = 1) === s8)
    // the state's partition layout never changes the merges
    assert(Bpe.train(st.repartition(1), merges = 8) === s8)
    assert(Bpe.train(st.repartition(7), merges = 8) === s8)
    // batched mode on real text: deterministic, right count, every
    // accepted pair's count exact under incremental re-symbolization
    // (cross-checked against a fresh full re-application of the chain)
    val b = Bpe.trainBatched(st, merges = 12, batch = 4, window = 16)
    assert(b.size === 12 && b.map(_.rank) === (1 to 12))
    assert(b === Bpe.trainBatched(st, merges = 12, batch = 4, window = 16))
    // prefix stability: a smaller budget learns exactly the larger
    // budget's first merges, so a vocabulary extends without retraining
    assert(Bpe.trainBatched(st, merges = 6, batch = 4, window = 16) === b.take(6))
  }

  test("segmentCounts: chunked large-table application == one-projection reference") {
    // learn past segmentChunk merges (the 31-word corpus exhausts at
    // ~89 > 64), then compare the chunked dictionary walk against an
    // inline single-chain reference on the same corpus
    val all = Tables.documents(spark, sf("sf0.001"))
    val st = Bpe.wordState(all, "text")
    val m = Bpe.trainBatched(st, merges = 89, batch = 8, window = 32)
    assert(m.size > Bpe.segmentChunk, s"need > chunk merges, got ${m.size}")
    val chunked = Bpe.segmentCounts(all, "doc_id", "text", m)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    // reference: the whole chain in one projection (fine at 89)
    val occurrences = all.select(col("doc_id"),
      explode(graft.operators.TextAnalysis.tokens(col("text"))).as("word"))
    val vocab = occurrences.select("word").distinct()
      .select(col("word"), org.apache.spark.sql.functions.size(
        Bpe.symsOf(Bpe.applyMerges(Bpe.symEncode(col("word")), m)))
        .as("__ns"))
    val reference = occurrences.join(vocab, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("__ns")).as("n_bpe_tokens"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(chunked === reference)
  }

  test("mergeTable round-trips the artifact columns in rank order") {
    val t = Bpe.mergeTable(spark,
      Seq(Bpe.Merge(1, "a", "b", 9L), Bpe.Merge(2, "ab", "c", 4L))).collect()
    assert(t.map(_.toSeq).toSeq === Seq(
      Seq(1, "a", "b", "ab", 9L), Seq(2, "ab", "c", "abc", 4L)))
  }
}
