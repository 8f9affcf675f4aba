package graft

import graft.functions.Unaccent
import graft.operators.Dedup
import graft.pipeline.AirQuality
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY §5 strategy item 4). Uses raw
  * ScalaCheck generators sampled under fixed seeds (the scalatest
  * bridge artifact isn't in the offline cache), so every run checks
  * the same deterministic family of cases. Data-side properties run
  * through real Spark plans. */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("unaccent: idempotent and length-bounded") {
    val inputs = samples(Gen.asciiPrintableStr, 50) ++
      Seq("éàüç", "ñÑ", "ābc", "北京", "ß", "Réglementaire unité déjà")
    inputs.foreach { s =>
      val once = Unaccent.strip(s)
      assert(Unaccent.strip(once) == once, s"not idempotent on: $s")
      assert(once.length <= s.length)
    }
  }

  test("dedup: exactSurvivors is idempotent and keeps one row per value") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.choose(1L, 1000L), Gen.oneOf("a", "b", "c", "d")))
    samples(gen, 5).filter(_.nonEmpty).foreach { rows =>
      val df = rows.toDF("id", "text")
      val once = Dedup.exactSurvivors(df, "id", col("text"))
      val twice = Dedup.exactSurvivors(once, "id", col("text"))
      assert(once.count() == twice.count())
      assert(once.select("text").distinct().count() == once.count())
    }
  }

  test("DocStats: stats-based lang/quality/repetition equal the HOF forms") {
    import graft.operators.TextAnalysis
    val texts = samples(Gen.asciiPrintableStr, 60) ++ Seq(
      "", " ", "@@@ ###", "the the the", "a",
      "the and is of to in that it was for",
      "le la les et est une des dans que pour",
      "der die das und ist nicht",
      "北京 中文 text with 的 mixed 是 scripts",
      "Tabs\tand\nnewlines the and is", "x " * 200, "one two " * 50)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .withColumn("__stats", TextAnalysis.docStats(col("text"), gramN = 2))
    val mism = df.select(
        TextAnalysis.langIdFromTokens(col("__toks")).as("l1"),
        TextAnalysis.langIdFromStats(col("__stats")).as("l2"),
        TextAnalysis.qualityScoreFromTokens(col("text"), col("__toks")).as("q1"),
        TextAnalysis.qualityScoreFromStats(col("text"), col("__stats")).as("q2"),
        TextAnalysis.repetitionRatio(col("__toks"), 2).as("r1"),
        TextAnalysis.repetitionRatioFromStats(col("__stats")).as("r2"),
        size(col("__toks")).as("n1"),
        col("__stats").getField("n_tokens").as("n2"))
      .where(not(col("l1") <=> col("l2")) || not(col("q1") <=> col("q2")) ||
        not(col("r1") <=> col("r2")) || not(col("n1") <=> col("n2")))
      .count()
    assert(mism == 0)
  }

  test("firstPerKey: survivor count equals distinct key count; stable under reshuffle") {
    val gen = Gen.listOfN(60,
      Gen.zip(Gen.choose(1, 5), Gen.choose(1, 5), Gen.choose(0, 100)))
    samples(gen, 5).filter(_.nonEmpty).foreach { rows =>
      val df = rows.toDF("k1", "k2", "v")
      val out = AirQuality.firstPerKey(df, Seq("k1", "k2"))
      assert(out.count() == df.select("k1", "k2").distinct().count())
      val reshuffled = AirQuality.firstPerKey(df.repartition(7), Seq("k1", "k2"))
      assert(out.exceptAll(reshuffled).count() == 0)
    }
  }

  test("PortableHash: md5Hash60 in [0, 2^60); perm family in [0, P); distinct multipliers") {
    import graft.functions.PortableHash
    val strs = samples(Gen.asciiPrintableStr, 40) ++ Seq("", "a", "中文", "x" * 1000)
    val hashed = strs.toDF("s")
      .select(PortableHash.md5Hash60(col("s")).as("h")).as[Long].collect()
    assert(hashed.forall(h => h >= 0L && h < (1L << 60)))
    // the affine family: values stay in [0, P), multipliers are nonzero
    // mod P and pairwise distinct over the k=64 range we use
    val perms = (0 until 64).map(PortableHash.permA)
    assert(perms.forall(a => a >= 1 && a < PortableHash.MinHashP))
    assert(perms.distinct.size == perms.size)
    val permVals = strs.toDF("s")
      .select(PortableHash.perm(7, PortableHash.md5Hash60(col("s"))).as("p"))
      .as[Long].collect()
    assert(permVals.forall(p => p >= 0L && p < PortableHash.MinHashP))
  }

  test("repetitionRatio: 0 for all-distinct, (n-1)/n for a fully repeated token") {
    import graft.operators.TextAnalysis
    val df = Seq(
      ("w1 w2 w3 w4 w5", 0.0),           // all 2-grams distinct
      ("x x x x x", 3.0 / 4.0),          // 4 identical 2-grams, 1 distinct
      ("solo", 0.0), ("", 0.0)           // too short -> 0
    ).toDF("text", "expected")
    val got = df.select(
      TextAnalysis.repetitionRatio(TextAnalysis.tokens(col("text")), 2).as("r"),
      col("expected")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("quotaCapPerGroup: survivor set is a pure function of the data (any partitioning)") {
    import graft.operators.Sampling
    // the 52-bit md5 draw (13 hex chars — exact in the aggregate's
    // double score; see Sampling.quotaCapPerGroup) must pick the SAME
    // survivors however the rows are laid out
    val gen = Gen.listOfN(120,
      Gen.zip(Gen.choose(1L, 100000L), Gen.oneOf("web", "books", "code")))
    samples(gen, 3).foreach { rows0 =>
      val rows = rows0.distinctBy(_._1)
      val df = rows.toDF("id", "source")
      val baseline = Sampling.quotaCapPerGroup(df, "source", "id", k = 7)
        .select("id").as[Long].collect().sorted.toSeq
      Seq(1, 3, 16).foreach { p =>
        val got = Sampling.quotaCapPerGroup(df.repartition(p), "source", "id", k = 7)
          .select("id").as[Long].collect().sorted.toSeq
        assert(got == baseline, s"survivors changed under repartition($p)")
      }
      // per-group cap actually binds
      val counts = Sampling.quotaCapPerGroup(df, "source", "id", k = 7)
        .groupBy("source").count().as[(String, Long)].collect().toMap
      counts.foreach { case (s, n) =>
        assert(n <= 7, s"group $s exceeded the quota: $n")
      }
    }
    // the integral-id contract is enforced, not just documented
    val bad = Seq(("a", "web")).toDF("id", "source")
    val err = intercept[IllegalArgumentException] {
      Sampling.quotaCapPerGroup(bad, "source", "id", k = 1)
    }
    assert(err.getMessage.contains("integral"))
  }

  test("boilerplate/rate-sample/chunk-dedup: pure functions of the data (any partitioning)") {
    import graft.operators.{Sampling, TextAnalysis}
    // all three r6 corpus ops must pick the SAME output however the
    // rows are laid out: x42's df counts are layout-free aggregates,
    // x43's draw is a pure row function, x44's keep-first is a
    // min-of-struct (never "first seen", which would be layout-bound)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val genDoc = Gen.listOfN(12, Gen.oneOf(words)).map(_.mkString(" "))
    samples(Gen.listOfN(60, genDoc), 2).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
        d.orderBy("doc_id").collect().map(_.toString).toSeq
      val dfs = df.withColumn("source", concat(lit("s"), col("doc_id") % 3))
        .withColumn("n_chars", length(col("text")))
      def canonP(d: org.apache.spark.sql.DataFrame): Seq[String] =
        d.orderBy("source").collect().map(_.toString).toSeq
      val b0 = canon(TextAnalysis.boilerplateRate(df, "doc_id", "text", 2, 2))
      val s0 = canon(Sampling.deterministicSampleByRate(df, "doc_id", lit(0.5)))
      val c0 = canon(Dedup.dedupChunksKeepFirst(df, "doc_id", "text", 3))
      val p0 = canonP(TextAnalysis.corpusProfile(dfs, "source", "text", "n_chars"))
      Seq(1, 16).foreach { p =>
        val r = df.repartition(p)
        assert(canon(TextAnalysis.boilerplateRate(r, "doc_id", "text", 2, 2)) == b0,
          s"x42 changed under repartition($p)")
        assert(canon(Sampling.deterministicSampleByRate(r, "doc_id", lit(0.5))) == s0,
          s"x43 changed under repartition($p)")
        assert(canon(Dedup.dedupChunksKeepFirst(r, "doc_id", "text", 3)) == c0,
          s"x44 changed under repartition($p)")
        // x49: the DECIMAL mean + exact percentiles make the profile
        // layout-free — a double-sum mean would fail exactly here
        assert(canonP(TextAnalysis.corpusProfile(dfs.repartition(p),
          "source", "text", "n_chars")) == p0,
          s"x49 changed under repartition($p)")
      }
    }
  }

  test("splits: leak-safety (pairs never straddle), append-stability, weight validation") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf("sf0.001"))
    val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    // hashSplit is a pure row function: the split column on a SUBSET
    // equals the same rows' splits on the full corpus (growth/append
    // never reassigns), and repartitioning changes nothing
    val full = Sampling.hashSplit(docs, "doc_id", weights)
      .select("doc_id", "split")
    val sub = Sampling.hashSplit(docs.where(col("doc_id") % 3 === 0)
        .repartition(7), "doc_id", weights)
      .select("doc_id", "split")
    assert(sub.exceptAll(full.where(col("doc_id") % 3 === 0)).count() == 0)
    // all three splits are populated at 500 docs
    assert(full.select("split").distinct().count() == 3)

    // leak-safety: NO dup pair straddles two splits
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 1, threshold = 0.5, blockOn = Seq("lang", "source"))
    val safe = Sampling.leakSafeSplit(docs, "doc_id", pairs, weights)
      .select(col("doc_id"), col("split"))
    val straddling = pairs
      .join(safe.select(col("doc_id").as("id_a"), col("split").as("__sa")), "id_a")
      .join(safe.select(col("doc_id").as("id_b"), col("split").as("__sb")), "id_b")
      .where(col("__sa") =!= col("__sb"))
    assert(pairs.count() > 0, "fixture needs dup pairs to prove anything")
    assert(straddling.count() == 0, "a near-dup pair straddles train/test")
    // the plain hash split DOES straddle on this corpus — the gap
    // leakSafeSplit exists to close (if this ever fails, the fixture
    // stopped exercising the difference)
    val plainStraddle = pairs
      .join(full.select(col("doc_id").as("id_a"), col("split").as("__sa")), "id_a")
      .join(full.select(col("doc_id").as("id_b"), col("split").as("__sb")), "id_b")
      .where(col("__sa") =!= col("__sb")).count()
    assert(plainStraddle > 0, "hash split no longer demonstrates the leak")
    // weight validation: must sum to 1, non-negative
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(docs, "doc_id", Seq("a" -> 1.5, "b" -> -0.5))
    }
  }

  test("bpe: training and fit stats are pure functions of the data (any partitioning)") {
    import graft.operators.Bpe
    val docs = Tables.documents(spark, sf("sf0.001")).limit(200)
    val a = Bpe.train(Bpe.wordState(docs, "text"), merges = 6)
    val b = Bpe.train(Bpe.wordState(docs.repartition(13), "text"), merges = 6)
    assert(a === b, "merge table must not depend on partition layout")
    val sa = Bpe.segmentStats(Bpe.wordState(docs, "text"), a)
      .collect().map(_.toSeq).toSeq
    val sb = Bpe.segmentStats(Bpe.wordState(docs.repartition(7), "text"), b)
      .collect().map(_.toSeq).toSeq
    assert(sa === sb, "fit stats must not depend on partition layout")
  }

  test("jaccardFromIntersect stays in [0,1] and is 1 for identical sets") {
    val gen = Gen.listOf(Gen.choose(0, 20))
    samples(Gen.zip(gen, gen), 20).foreach { case (a, b) =>
      val df = Seq((a.distinct, b.distinct)).toDF("x", "y")
      val j = df.select(Dedup.arrayJaccard(col("x"), col("y"))).as[Double].head()
      assert(j >= 0.0 && j <= 1.0)
      if (a.distinct.nonEmpty) {
        val self = df.select(Dedup.arrayJaccard(col("x"), col("x"))).as[Double].head()
        assert(math.abs(self - 1.0) < 1e-15)
      }
    }
  }

  test("lag(6) diff is zero on a constant series (leading-edge rule)") {
    val df = (1 to 20).map(i => ("s1", i, 7.5)).toDF("code_site", "t", "x_valeur")
      .withColumn("date_de_debut", col("t").cast("timestamp"))
    val out = AirQuality.lagDiff6(df)
    val diffs = out.select("x_valeur_diff_6hrs").as[Double].collect()
    assert(diffs.forall(_ == 0.0))
  }

  test("TopKBuffer: equals take-k of the sorted stream under random insert/merge splits") {
    import graft.functions.TopKBuffer
    val gen = Gen.listOfN(80,
      Gen.zip(Gen.choose(0.0, 5.0), Gen.choose(0L, 30L)))
    samples(gen, 8).foreach { pairs =>
      val k = 1 + pairs.length % 7
      // reference: total order (score desc, id asc), first k
      val expect = pairs.distinct
        .sortBy { case (s, id) => (-s, id) }.take(k)
      // split the stream at an arbitrary point, build two buffers, merge
      val (l, r) = pairs.distinct.splitAt(pairs.length / 3)
      val a = new TopKBuffer(k); l.foreach { case (s, id) => a.insert(s, id) }
      val b = new TopKBuffer(k); r.foreach { case (s, id) => b.insert(s, id) }
      a.mergeFrom(b)
      val got = (0 until a.n).map(i => (a.scores(i), a.ids(i)))
      assert(got == expect, s"k=$k pairs=$pairs")
    }
  }

  test("HyperplaneBucket: codegen bucket equals the direct integer formula") {
    import graft.functions.HyperplaneBucket
    val dim = 16; val planes = 10
    val gen = Gen.listOfN(dim, Gen.choose(-1.0, 1.0).map(_.toFloat))
    val vecs = samples(gen, 30)
    // reference recomputation, straight from the published formula
    def ref(v: Seq[Float]): Long = {
      val q = v.map(x => math.floor(x.toDouble * 1e6).toLong)
      (0 until planes).map { p =>
        val proj = (0 until dim).map(d =>
          q(d) * HyperplaneBucket.planeWeight(p, d, dim)).sum
        if (proj >= 0) 1L << p else 0L
      }.reduce(_ | _)
    }
    val got = vecs.toDF("v")
      .select(HyperplaneBucket.column(col("v"), dim, planes).as("b"))
      .as[Long].collect()
    assert(got.toSeq == vecs.map(ref))
  }

  test("NearestCells: probe order equals brute-force argsort by (dist, cell)") {
    import graft.functions.NearestCells
    val dim = 8; val nlist = 6
    val cents = Array.tabulate(nlist)(c =>
      Array.tabulate(dim)(d => ((c * 37 + d * 11) % 23 - 11).toLong))
    val ids = Array.tabulate(nlist)(_ * 3) // non-contiguous cell ids
    val gen = Gen.listOfN(dim, Gen.choose(-1.0, 1.0).map(_.toFloat))
    val vecs = samples(gen, 25)
    def ref(v: Seq[Float], nprobe: Int): Seq[Int] = {
      val q = v.map(x => math.floor(x.toDouble * 1e3).toLong)
      cents.zipWithIndex.map { case (c, i) =>
        ((0 until dim).map(d => { val t = q(d) - c(d); t * t }).sum, ids(i))
      }.sortBy(identity).take(nprobe).map(_._2).toSeq
    }
    (1 to 3).foreach { nprobe =>
      val got = vecs.toDF("v")
        .select(NearestCells.nearestIntCol(col("v"), cents, ids, nprobe).as("c"))
        .as[Seq[Int]].collect()
      assert(got.toSeq == vecs.map(ref(_, nprobe)), s"nprobe=$nprobe")
    }
  }

  test("PgCopy: escape/unescape round-trips every string; field codec round-trips every type") {
    import graft.sources.{PgCopySink, PgCopySource}
    val gen = Gen.listOfN(64, Gen.frequency(
      (8, Gen.asciiPrintableChar),
      (1, Gen.oneOf('\\', '\t', '\n', '\r')),
      (1, Gen.oneOf('\u00e9', '\u4e01', '\u00df'))))
      .map(_.mkString)
    val strings = samples(gen, 60) ++ Seq("", "\\N", "\\", "a\tb\nc\rd",
      "  leading and trailing  ", "\\x00ff")
    strings.foreach { str =>
      val escaped = PgCopySink.escape(str)
      assert(!escaped.contains('\t') && !escaped.contains('\n') &&
        !escaped.contains('\r'),
        s"escaped form must be tab/newline-free: $str")
      assert(PgCopySource.unescape(escaped) == str,
        s"escape/unescape must round-trip: $str")
    }
    // typed fields survive encode -> parse across the COPY text codec
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val ts = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-02-03T04:05:06.123456Z"))
    val row = Row("a\tb", 3.14159, -0.0, Long.MaxValue, 42,
      true, ts, java.sql.Date.valueOf("2026-02-03"),
      new java.math.BigDecimal("12345.6789"),
      Array[Byte](0, 127, -128, 15))
    val types = Seq(StringType, DoubleType, DoubleType, LongType,
      IntegerType, BooleanType, TimestampType, DateType,
      DecimalType(18, 4), BinaryType)
    types.zipWithIndex.foreach { case (dt, i) =>
      val enc = PgCopySink.encodeField(dt, row, i)
      val back = PgCopySource.parseField(dt, enc)
      dt match {
        case BinaryType =>
          assert(back.asInstanceOf[Array[Byte]].toSeq ==
            row.getAs[Array[Byte]](i).toSeq, s"binary field $i")
        case DecimalType() =>
          assert(back.asInstanceOf[java.math.BigDecimal]
            .compareTo(row.getDecimal(i)) == 0, s"decimal field $i")
        case _ => assert(back == row.get(i), s"field $i ($dt): $enc -> $back")
      }
    }
    // numeric arrays (the embedding-serving shape) round-trip too
    val arrRow = Row(Seq(1.5f, -2.25f, null), Seq(1.0e-7, 9.9e12),
      Seq(1L, -2L), Seq.empty[Int])
    val arrTypes = Seq(ArrayType(FloatType), ArrayType(DoubleType),
      ArrayType(LongType), ArrayType(IntegerType))
    val elemClass = Seq(classOf[java.lang.Float], classOf[java.lang.Double],
      classOf[java.lang.Long], classOf[java.lang.Integer])
    arrTypes.zipWithIndex.foreach { case (dt, i) =>
      val enc = PgCopySink.encodeField(dt, arrRow, i)
      assert(enc.startsWith("{") && enc.endsWith("}"), enc)
      val back = PgCopySource.parseField(dt, enc).asInstanceOf[Seq[Any]]
      assert(back == arrRow.getSeq[Any](i), s"array field $i: $enc")
      // cooperative equality hides box-type drift (1.5f == 1.5d), and
      // the Row encoder does NOT forgive it — pin the runtime class
      // (this caught Scala's numeric branch harmonization widening
      // every parsed element to Double)
      back.filter(_ != null).foreach(e =>
        assert(e.getClass == elemClass(i),
          s"array field $i element boxed as ${e.getClass}, want ${elemClass(i)}"))
    }
    // NaN / infinities ride PostgreSQL's literal spellings
    val special = Row(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    (0 until 3).foreach { i =>
      val enc = PgCopySink.encodeField(DoubleType, special, i)
      val back = PgCopySource.parseField(DoubleType, enc).asInstanceOf[Double]
      assert(back.isNaN == special.getDouble(i).isNaN &&
        (back.isNaN || back == special.getDouble(i)))
    }
  }

  test("Pca: moment states merge associatively (split corpus == whole corpus)") {
    val dim = 6
    val gen = Gen.listOfN(30, Gen.listOfN(dim,
      Gen.choose(-1.0, 1.0).map(_.toFloat)))
    samples(gen, 4).filter(_.size >= 6).foreach { vs =>
      val all = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val whole = graft.operators.Pca.momentState(all, "v")
      val (a, b) = vs.splitAt(vs.size / 2)
      val stA = graft.operators.Pca.momentState(
        a.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v"), "v")
      val stB = graft.operators.Pca.momentState(
        b.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v"), "v")
      assert(stA.n + stB.n == whole.n)
      assert(stA.s.zip(stB.s).map { case (x, y) => x + y }.toSeq ==
        whole.s.toSeq, "per-dim sums must merge by addition")
      assert(stA.g.zip(stB.g).map { case (x, y) => x + y }.toSeq ==
        whole.g.toSeq, "Gram cells must merge by addition")
    }
  }

  test("bloomSlot: the driver-side md5 twin equals the write-side " +
      "keyHash expression for arbitrary strings (ASCII, unicode, " +
      "empty, separators)") {
    import graft.operators.TxLog
    val gen = Gen.listOfN(80, Gen.oneOf(
      Gen.alphaNumStr,
      Gen.asciiPrintableStr,
      Gen.listOfN(12, Gen.oneOf("δ", "ü", "中", "🙂", ":",
        "|", " ", "a")).map(_.mkString)))
    val values = gen.pureApply(Gen.Parameters.default, Seed(17L))
      .distinct.filter(_ != null)
    // the expression side: kh for every value in one small job
    val khs = values.toDF("v")
      .select(col("v"), TxLog.keyHash(col("v")).as("kh"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    values.foreach { s =>
      val kh = khs(s)
      val expWord = (kh % TxLog.bloomWords).toInt
      var expMask = 0L
      var sh = 8
      while (sh <= 26) { expMask |= 1L << ((kh >> sh) % 64).toInt; sh += 6 }
      assert(TxLog.bloomSlot(s) === ((expWord, expMask)),
        s"driver/executor bloom hash drift on [$s]")
    }
  }
}