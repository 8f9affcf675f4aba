package graft

import graft.functions.{GraftFunctions, Unaccent}
import graft.operators.{Bloom, Dedup, IvfAnn, Similarity, SkewJoin}
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("unaccent strips diacritics, evals in codegen and interpreted modes") {
    assert(Unaccent.strip("Réglementaire unité déjà vu") == "Reglementaire unite deja vu")
    assert(Unaccent.strip("naïve café ñ Ö") == "naive cafe n O")
    GraftFunctions.ensureRegistered(spark)
    val got = Seq("é à ü ç", "plain").toDF("s")
      .select(expr("unaccent(s)")).as[String].collect().toSeq
    assert(got == Seq("e a u c", "plain"))
    // null-safe (nullIntolerant)
    val n = Seq[Option[String]](None).toDF("s")
      .select(expr("unaccent(s)")).collect().head
    assert(n.isNullAt(0))
  }

  test("unaccent registration is idempotent and survives re-register") {
    GraftFunctions.ensureRegistered(spark)
    GraftFunctions.ensureRegistered(spark)
    assert(spark.sql("SELECT unaccent('tréma')").as[String].head() == "trema")
  }

  test("bottom_k_longs is SQL-callable: per-group bottom-k equals the DataFrame form") {
    GraftFunctions.ensureRegistered(spark)
    val df = (0 until 500).map(i => (s"g${i % 3}", (i * 7919L) % 1000))
      .toDF("g", "hv")
    df.createOrReplaceTempView("bkl_in")
    val viaSql = spark.sql(
      "SELECT g, sort_array(bottom_k_longs(hv, 8)) AS sk FROM bkl_in GROUP BY g")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val expected = (0 until 500).map(i => (s"g${i % 3}", (i * 7919L) % 1000))
      .groupBy(_._1).map { case (g, xs) =>
        g -> xs.map(_._2).distinct.sorted.take(8)
      }
    expected.foreach { case (g, want) =>
      assert(viaSql(g) == want, s"group $g")
    }
  }

  test("GeoMean aggregator: exact value, partition-invariant") {
    val xs = Seq(1.0, 2.0, 4.0, 8.0)
    val expected = math.exp(xs.map(math.log).sum / 4) // = 2*sqrt(2)
    val df = xs.toDF("x")
    val one = df.coalesce(1).agg(udaf(graft.functions.GeoMean).apply(col("x")))
      .as[Double].head()
    val many = df.repartition(3).agg(udaf(graft.functions.GeoMean).apply(col("x")))
      .as[Double].head()
    assert(math.abs(one - expected) < 1e-12)
    assert(math.abs(many - expected) < 1e-12) // merge() associativity
    // empty + non-positive inputs
    val nan = Seq(-1.0, 0.0).toDF("x")
      .agg(udaf(graft.functions.GeoMean).apply(col("x"))).as[Double].head()
    assert(nan.isNaN)
  }

  test("FloatDot equals the HOF fold bit-for-bit; SQL surface; null-safe") {
    val vecs = Seq(
      (Array(1.0f, 2.0f, -3.5f), Array(0.5f, -1.25f, 4.0f)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.3f, 0.2f, 0.1f)))
    val df = vecs.toDF("a", "b")
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)).as[Double].collect()
    val native = df.select(graft.operators.Similarity.dot(col("a"), col("b")))
      .as[Double].collect()
    assert(java.util.Arrays.equals(
      hof.map(java.lang.Double.doubleToRawLongBits),
      native.map(java.lang.Double.doubleToRawLongBits)))
    GraftFunctions.ensureRegistered(spark)
    assert(spark.sql("SELECT float_dot(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT)))")
      .as[Double].head() == 6.0)
    val n = Seq((Option.empty[Array[Float]], Array(1.0f))).toDF("a", "b")
      .select(graft.operators.Similarity.dot(col("a"), col("b"))).collect().head
    assert(n.isNullAt(0))
    // ragged vectors -> null (the zip_with contract), not a partial dot
    val ragged = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
      .select(graft.operators.Similarity.dot(col("a"), col("b"))).collect().head
    assert(ragged.isNullAt(0))
  }

  test("MinHashSig equals the array_min/transform fold per slot; contracts") {
    import graft.functions.{MinHashSig, PortableHash}
    val k = 64
    val rnd = new scala.util.Random(42)
    val sets = Seq.fill(20)(
      Seq.fill(1 + rnd.nextInt(50))(rnd.nextLong().abs % (1L << 60)))
    val df = sets.toDF("hs")
    val folds = df.select((0 until k).map(i =>
      array_min(transform(col("hs"),
        s => PortableHash.perm(i, s))).as(s"m$i")): _*).collect()
    val sigs = df.select(MinHashSig.column(col("hs"), k).as("sig")).collect()
    sets.indices.foreach { r =>
      val fold = (0 until k).map(folds(r).getLong)
      val sig = sigs(r).getSeq[Long](0)
      assert(sig == fold, s"row $r")
    }
    // negative inputs follow the same sign-preserving % arithmetic
    val neg = Seq(Seq(-5L, 3L)).toDF("hs")
    val negFold = neg.select(array_min(transform(col("hs"),
      s => PortableHash.perm(0, s)))).as[Long].head()
    val negSig = neg.select(MinHashSig.column(col("hs"), 1))
      .collect().head.getSeq[Long](0)
    assert(negSig == Seq(negFold))
    // empty set -> null signature; null input -> null; null elements skipped
    val e = Seq(Seq.empty[Long]).toDF("hs")
      .select(MinHashSig.column(col("hs"), 4)).collect().head
    assert(e.isNullAt(0))
    val withNullElem = Seq(Seq[java.lang.Long](null, 7L)).toDF("hs")
    val skipped = withNullElem.select(MinHashSig.column(col("hs"), 1))
      .collect().head.getSeq[Long](0)
    val just7 = Seq(Seq(7L)).toDF("hs")
      .select(MinHashSig.column(col("hs"), 1)).collect().head.getSeq[Long](0)
    assert(skipped == just7)
    // SQL surface with a literal k
    GraftFunctions.ensureRegistered(spark)
    val viaSql = spark.sql(
      "SELECT minhash_sig(array(7L), 1)").collect().head.getSeq[Long](0)
    assert(viaSql == just7)
  }

  test("ShingleHashes equals the column-algebra shingle pipeline exactly") {
    import graft.functions.{PortableHash, ShingleHashes}
    import graft.operators.TextAnalysis
    // the historical column form, inlined as the parity oracle
    def columnForm(n: Int) = {
      import PortableHash.md5Hash60
      val th = transform(TextAnalysis.tokens(col("text")), t => md5Hash60(t))
      val full = transform(sequence(lit(0), size(col("th")) - n), i =>
        md5Hash60(concat_ws(",",
          (0 until n).map(j => element_at(col("th"), i + j + 1)): _*)))
      val short = array(md5Hash60(concat_ws(",",
        element_at(col("th"), 1) +: (1 until n).map(j =>
          coalesce(try_element_at(col("th"), lit(j + 1)), lit(-j.toLong))): _*)))
      (df: org.apache.spark.sql.DataFrame) => df
        .withColumn("th", th).where(size(col("th")) > 0)
        .select(col("text"), (if (n <= 1) array_distinct(col("th"))
          else array_distinct(
            when(size(col("th")) >= n, full).otherwise(short))).as("hs"))
    }
    val texts = Seq(
      "The quick brown fox jumps over the lazy dog",
      "one two", "solo", "a b c", "dup dup dup dup",
      "Punctuation, everywhere!! 42 times; truly.",
      "Âccénts ön tökens and 中文 mixed in",
      "  leading  and trailing   ", "123 456 789 123 456 789",
      "", "!!!", "x" * 500 + " y z w v")
    for (n <- Seq(1, 2, 3, 5)) {
      val df = texts.toDF("text")
      val expected = columnForm(n)(df).collect()
        .map(r => (r.getString(0), r.getSeq[Long](1))).toMap
      val got = df.select(col("text"),
          ShingleHashes.column(col("text"), n).as("hs"))
        .where(size(col("hs")) > 0).collect()
        .map(r => (r.getString(0), r.getSeq[Long](1))).toMap
      assert(got == expected, s"n=$n")
    }
    // null in -> null out; SQL surface
    val nl = Seq[Option[String]](None).toDF("text")
      .select(ShingleHashes.column(col("text"), 3)).collect().head
    assert(nl.isNullAt(0))
    GraftFunctions.ensureRegistered(spark)
    val viaSql = spark.sql("SELECT size(shingle_hashes('a b c d', 3))")
      .collect().head.getInt(0)
    assert(viaSql == 2)
  }

  test("minhash shingles survive ANSI mode (short docs use try_element_at)") {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val docs = Seq((1L, "one two"), (2L, "solo"), (3L, "a b c d e")).toDF("id", "text")
      val rows = graft.operators.Dedup
        .shingleHashArrays(docs, "id", "text", shingleN = 3)
        .collect()
      assert(rows.length == 3) // no INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    } finally spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  test("PolyHash: known values, empty, codepoint fallback, SQL surface") {
    import graft.functions.PolyHash
    def ref(s: String): Long = { // per-codepoint reference fold
      var h = 0L
      s.codePoints().toArray.foreach(cp => h = (h * 31 + cp) % PolyHash.Mod)
      h
    }
    val samples = Seq("", "a", "abc 123", "straße", "中文 mixed ascii", "x" * 5000)
    samples.foreach { s =>
      assert(PolyHash.hash(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        == ref(s), s"mismatch for '$s'")
    }
    assert(ref("") == 0L && ref("a") == 97L)
    GraftFunctions.ensureRegistered(spark)
    assert(spark.sql("SELECT poly_hash('a')").as[Long].head() == 97L)
    // column path used by x12: matches the reference fold on normalized text
    val got = Seq("Hello, World!").toDF("t")
      .select(graft.operators.TextAnalysis.rollingHash(col("t"))).as[Long].head()
    assert(got == ref("hello world"))
  }

  test("consistent sample: exactly k per group, stable across reshuffles") {
    val df = (1L to 100L).map(i => (s"g${i % 4}", i)).toDF("grp", "id")
    val s1 = graft.operators.Sampling.consistentSamplePerGroup(df, "grp", "id", 5)
    val s2 = graft.operators.Sampling.consistentSamplePerGroup(df.repartition(7), "grp", "id", 5)
    assert(s1.groupBy("grp").count().select("count").as[Long].collect().forall(_ == 5))
    assert(s1.exceptAll(s2).count() == 0) // identical survivors
  }

  test("salted join equals the plain join") {
    val fact = Seq((1L, 10L, 5.0), (2L, 10L, 7.0), (3L, 20L, 1.0), (4L, 99L, 2.0))
      .toDF("id", "k", "v")
    val dim = Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("k", "name")
    val salted = SkewJoin.saltedInnerJoin(fact, dim, Seq("k"), "id", buckets = 4)
      .select("id", "k", "v", "name")
    val plain = fact.join(dim, Seq("k")).select("id", "k", "v", "name")
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("recoverTable restores every crash state of the destroy-last swap") {
    import graft.operators.Compaction
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val base = java.nio.file.Files.createTempDirectory("graft_rec").toString
    val dir = s"$base/t"
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    rows.write.parquet(dir)
    def liveRows() = spark.read.parquet(dir).orderBy("id")
      .collect().map(_.toSeq).toSeq
    val expect = liveRows()
    // crash after promote, before reclaim: stray .old beside live
    rows.write.parquet(s"$dir.compact.old")
    assert(Compaction.recoverTable(spark, dir) === "cleared")
    assert(!fs.exists(p(s"$dir.compact.old")) && liveRows() === expect)
    // crash between park and promote: live parked at .old, .tmp present
    rows.write.parquet(s"$dir.compact.tmp")
    assert(fs.rename(p(dir), p(s"$dir.compact.old")))
    assert(Compaction.recoverTable(spark, dir) === "restored-old")
    assert(liveRows() === expect && !fs.exists(p(s"$dir.compact.tmp")))
    // crash mid-promote with .old already reclaimed: only .tmp
    assert(fs.rename(p(dir), p(s"$dir.compact.tmp")))
    assert(Compaction.recoverTable(spark, dir) === "restored-tmp")
    assert(liveRows() === expect)
    // idempotent; and a dir that never was a table throws
    assert(Compaction.recoverTable(spark, dir) === "clean")
    intercept[java.io.IOException](
      Compaction.recoverTable(spark, s"$base/never_existed"))
  }

  test("RunGc: dry-run reports, --apply recovers, re-run is clean; file candidates surface") {
    import graft.pipeline.RunGc
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val root = java.nio.file.Files.createTempDirectory("graft_gc").toString
    val rows = (1L to 40L).map(i => (i, (i % 4).toInt)).toDF("id", "pt")
    // healthy-but-fragmented partitioned table: a compaction candidate
    rows.repartition(6).write.partitionBy("pt").parquet(s"$root/tables/frag")
    // crashed swap: live parked aside, nothing at the live path
    rows.write.parquet(s"$root/tables/crashed")
    assert(fs.rename(p(s"$root/tables/crashed"),
      p(s"$root/tables/crashed.compact.old")))
    val dry = RunGc.run(spark, root, ageMinutes = -1, maxFiles = 2)
    assert(dry.exists(f => f.kind == "swap-leftover-old" &&
      f.action == "would-recover"), dry.toString)
    assert(dry.exists(f => f.kind == "compaction-candidate" &&
      f.path.endsWith("frag")), dry.toString)
    assert(!fs.exists(p(s"$root/tables/crashed")), "dry-run must not touch")
    // young leftovers are skipped even under --apply (in-flight swap)
    val young = RunGc.run(spark, root, ageMinutes = 60, maxFiles = 2,
      apply = true)
    assert(young.exists(_.action == "skipped-young"))
    assert(!fs.exists(p(s"$root/tables/crashed")))
    val applied = RunGc.run(spark, root, ageMinutes = -1, maxFiles = 2,
      apply = true)
    assert(applied.exists(_.action == "restored-old"), applied.toString)
    assert(spark.read.parquet(s"$root/tables/crashed").count() == 40)
    val again = RunGc.run(spark, root, ageMinutes = -1, maxFiles = 2)
    assert(!again.exists(_.kind.startsWith("swap-leftover")), again.toString)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "gc_report.jsonl")))
  }

  test("tableProfile: nulls, exact NDV, string bounds; approx mode stays schema-identical") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), Some("a")),
      (Some(2L), None), (None, Some("b")))
      .toDF("k", "s")
    val got = graft.operators.TableProfile.profile(df, Seq("k", "s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))).toSeq
    assert(got === Seq(
      ("k", 4L, 1L, 2L, "1", "2"),
      ("s", 4L, 1L, 2L, "a", "b")))
    val approx = graft.operators.TableProfile.profile(df, Seq("k", "s"),
      exact = false)
    assert(approx.columns.toSeq ===
      Seq("col_name", "n_rows", "n_nulls", "ndv", "min_val", "max_val"))
    assert(approx.count() == 2)
  }

  test("joinSizeEstimate: exact product-sum cardinality and the owning key") {
    import graft.operators.SkewJoin
    // left: a x3, b x1, c x2; right: a x2, b x4, d x1
    // matched: a -> 6, b -> 4; join_rows 10; max key a (6)
    val l = (Seq.fill(3)("a") ++ Seq("b") ++ Seq.fill(2)("c")).toDF("k")
    val r = (Seq.fill(2)("a") ++ Seq.fill(4)("b") :+ "d").toDF("k")
    val got = SkewJoin.joinSizeEstimate(l, r, "k").head
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getString(3)) === (10L, 2L, 6L, "a"))
    assert(got.getLong(0) === l.join(r, Seq("k")).count(),
      "the estimate IS the exact join cardinality")
    // disjoint keys: zeros and a null owner
    val none = SkewJoin.joinSizeEstimate(l,
      Seq("z").toDF("k"), "k").head
    assert(none.getLong(0) == 0L && none.getLong(1) == 0L &&
      none.isNullAt(3))
  }

  test("heavyKeys: exact shares, uniform-relative skew, deterministic ties") {
    // keys: a×6, b×2, c×1, d×1 -> total 10, 4 distinct keys
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .toDF("k")
    val got = SkewJoin.heavyKeys(df, "k", k = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq(
      (1, "a", 6L, 600000L, 2400000L),   // 6/10; 6/(10/4) = 2.4x uniform
      (2, "b", 2L, 200000L, 800000L),
      (3, "c", 1L, 100000L, 400000L)))   // tie c/d broken by key asc
  }

  test("bucketed range join equals the naive theta join") {
    val points = (0L until 200L).map(i => (i, i * 7 % 500)).toDF("pid", "t")
    val ranges = Seq((1L, 10L, 60L), (2L, 55L, 58L), (3L, 400L, 499L), (4L, 600L, 700L))
      .toDF("rid", "lo", "hi")
    val got = graft.operators.RangeJoin
      .bucketedRangeJoin(points, ranges, "t", "lo", "hi", bucketWidth = 50)
      .select("pid", "rid")
    val naive = points.join(ranges, col("t") >= col("lo") && col("t") <= col("hi"))
      .select("pid", "rid")
    assert(got.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(got).count() == 0)
    assert(naive.count() > 0)
  }

  test("TopKBuffer keeps the k best by (score desc, id asc) through insert/merge/serde") {
    import graft.functions.{TopKBuffer, TopKPairs}
    val b = new TopKBuffer(3)
    Seq((0.5, 7L), (0.9, 2L), (0.9, 1L), (0.1, 9L), (0.7, 3L)).foreach {
      case (s, id) => b.insert(s, id)
    }
    // ties broken by lower id; only 3 survive
    assert((0 until b.n).map(i => (b.scores(i), b.ids(i))) ==
      Seq((0.9, 1L), (0.9, 2L), (0.7, 3L)))
    val other = new TopKBuffer(3)
    Seq((0.8, 5L), (0.95, 6L)).foreach { case (s, id) => other.insert(s, id) }
    b.mergeFrom(other)
    assert((0 until b.n).map(i => (b.scores(i), b.ids(i))) ==
      Seq((0.95, 6L), (0.9, 1L), (0.9, 2L)))
    // serde round-trip preserves content and capacity
    val br = org.apache.spark.sql.graft.ColumnBridge.expression _
    val agg = TopKPairs(br(lit(0.0)), br(lit(0L)), 3)
    val rt = agg.deserialize(agg.serialize(b))
    assert(rt.k == 3 && (0 until rt.n).map(i => (rt.scores(i), rt.ids(i))) ==
      (0 until b.n).map(i => (b.scores(i), b.ids(i))))
  }

  test("bruteForceTopK ranks by cosine desc with id tiebreak") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(1.0f, 0.1f)), (4L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(1.0f, 0.0f))).toDF("q_id", "q_vec")
    val got = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "q_id", "q_vec", k = 3)
      .orderBy("rank")
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSeq
    // cosine: ids 1 and 4 tie at 1.0 (lower id first), then 3, never 2
    assert(got == Seq((1L, 1), (4L, 2), (3L, 3)))
  }

  test("Int8Vec: reconstruction within half-scale; approx cosine near exact") {
    import graft.functions.Int8Vec
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(32)(j => (math.sin(i * 1.3 + j) * 2).toFloat).toSeq)
    }.toDF("id", "v")
    val z = vecs.select(col("id"), col("v"), Int8Vec.quantizeCol(col("v")).as("z"))
    // reconstruction: |x_d - scale * q_d| <= scale / 2 (half-up rounding)
    val bad = z.select(col("id"),
        aggregate(
          zip_with(col("v"), col("z.q"), (x, q) =>
            abs(x.cast("double") - col("z.scale") * q.cast("double"))),
          lit(0.0), (acc, e) => greatest(acc, e)).as("maxErr"),
        col("z.scale").as("s"))
      .where(col("maxErr") > col("s") * 0.5 + 1e-12).count()
    assert(bad == 0)
    // approx cosine within 2*sqrt(dim)/127 of exact, on 50 pairs
    val pairs = z.as("a").crossJoin(z.as("b"))
      .where(col("a.id") + 1 === col("b.id"))
      .select(
        Similarity.cosine(col("a.v"), col("b.v")).as("exact"),
        Similarity.approxCosineInt8(col("a.z.q"), col("b.z.q")).as("approx"))
    val tol = 2.0 * math.sqrt(32) / 127.0
    assert(pairs.where(abs(col("exact") - col("approx")) > tol).count() == 0)
    // zero vector: scale 0, q all zero, cosine 0
    val zero = Seq((0L, Seq.fill(4)(0.0f))).toDF("id", "v")
      .select(Int8Vec.quantizeCol(col("v")).as("z"))
      .select(col("z.scale"), col("z.q")).collect().head
    assert(zero.getDouble(0) == 0.0 &&
      zero.getSeq[Byte](1).forall(_ == 0))
    // SQL surface
    GraftFunctions.ensureRegistered(spark)
    val s = spark.sql(
      "SELECT int8_dot(int8_quantize(array(1.0F, -1.0F)).q, " +
        "int8_quantize(array(1.0F, -1.0F)).q) AS d").as[Long].head()
    assert(s == 127L * 127 * 2)
  }

  test("SQL surface: hyperplane_bucket, sorted_pairs, top_k_pairs registered") {
    GraftFunctions.ensureRegistered(spark)
    Seq((1L, Seq(0.5f, -0.25f)), (2L, Seq(-0.5f, 0.25f)))
      .toDF("id", "v").createOrReplaceTempView("sqlsurf_v")
    val b = spark.sql(
      "SELECT hyperplane_bucket(v, 2, 4) AS b FROM sqlsurf_v ORDER BY id")
      .as[Long].collect()
    assert(b.length == 2 && b(0) != b(1)) // opposite vectors, opposite signs
    val p = spark.sql(
      "SELECT sorted_pairs(array(3L, 1L, 2L)) AS p")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p == Set((1L, 3L), (1L, 2L), (2L, 3L)))
    val t = spark.sql(
      """SELECT top_k_pairs(s, id, 2) AS t FROM
         VALUES (0.9D, 1L), (0.5D, 2L), (0.7D, 3L) AS v(s, id)""")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(t == Seq((0.9, 1L), (0.7, 3L)))
    // literal validation rejects out-of-range and non-foldable args
    intercept[Exception] {
      spark.sql("SELECT top_k_pairs(s, id, 4294967297) FROM VALUES (1.0D, 1L) AS v(s, id)")
        .collect()
    }
  }

  test("SQL surface: doc_stats, byte_stats, slot_matches, nearest_cells_int equal the DataFrame forms") {
    import graft.operators.TextAnalysis
    GraftFunctions.ensureRegistered(spark)
    // doc_stats — the x10 scoring path: SQL and DataFrame structs match
    val docs = Seq((1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "le chat et le chien sont dans la maison"),
      (3L, null.asInstanceOf[String])).toDF("id", "text")
    docs.createOrReplaceTempView("sqlsurf_docs")
    val viaDf = docs.select(col("id"), TextAnalysis.docStats(col("text")).as("s"))
    val viaSql = spark.sql("SELECT id, doc_stats(text) AS s FROM sqlsurf_docs")
    assert(viaSql.exceptAll(viaDf).count() == 0 &&
      viaDf.exceptAll(viaSql).count() == 0)
    // explicit gram width agrees with the DataFrame default arg form
    val viaSql3 = spark.sql("SELECT id, doc_stats(text, 3) AS s FROM sqlsurf_docs")
    val viaDf3 = docs.select(col("id"), TextAnalysis.docStats(col("text"), 3).as("s"))
    assert(viaSql3.exceptAll(viaDf3).count() == 0)
    // byte_stats — the x32 no-codec screen
    val bin = Seq((1L, Array[Byte](1, 2, 2, 3))).toDF("id", "b")
    bin.createOrReplaceTempView("sqlsurf_bin")
    val bSql = spark.sql("SELECT byte_stats(b) AS s FROM sqlsurf_bin")
    val bDf = bin.select(graft.functions.ByteStats.column(col("b")).as("s"))
    assert(bSql.exceptAll(bDf).count() == 0)
    assert(bSql.select("s.n_bytes").as[Int].head() == 4)
    // slot_matches — the x28 estimated-verify hot scalar
    val m = spark.sql(
      "SELECT slot_matches(array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 8L)) AS m")
      .as[Int].head()
    assert(m == 2)
    // nearest_cells_int — the x15 IVF assignment: literal centroid
    // matrix + cell ids, against the Column form on the same vectors
    val vecs = Seq((1L, Seq(0.1f, 0.9f)), (2L, Seq(0.9f, 0.1f)))
      .toDF("id", "v")
    vecs.createOrReplaceTempView("sqlsurf_vecs")
    val cents = Array(Array(100L, 900L), Array(900L, 100L))
    val ids = Array(7, 9)
    val nSql = spark.sql(
      """SELECT id, nearest_cells_int(v,
           array(array(100L, 900L), array(900L, 100L)),
           array(7, 9), 1) AS c
         FROM sqlsurf_vecs""")
    val nDf = vecs.select(col("id"),
      graft.functions.NearestCells.nearestIntCol(col("v"), cents, ids, 1).as("c"))
    assert(nSql.exceptAll(nDf).count() == 0 && nDf.exceptAll(nSql).count() == 0)
    assert(nSql.orderBy("id").as[(Long, Seq[Int])].collect().toSeq ==
      Seq((1L, Seq(7)), (2L, Seq(9))))
    // literal validation: non-literal centroid matrix rejected
    intercept[Exception] {
      spark.sql("SELECT nearest_cells_int(v, array(v), array(1), 1) FROM sqlsurf_vecs")
        .collect()
    }
  }

  test("capped_ids: full collect under the limit, limit+1 proof over it") {
    import graft.functions.CappedIds
    val df = (1L to 10L).toDF("id")
    // under the cap: the full set, regardless of partitioning
    val full = df.repartition(4).agg(CappedIds.column(col("id"), 20).as("ids"))
      .select(explode(col("ids"))).as[Long].collect().toSet
    assert(full == (1L to 10L).toSet)
    // over the cap: exactly limit+1 elements survive — enough to prove
    // the group exceeds the limit, never the full membership
    val capped = df.repartition(4).agg(CappedIds.column(col("id"), 3).as("ids"))
      .select(size(col("ids"))).as[Int].head()
    assert(capped == 4)
    // nulls skipped
    val withNull = Seq(Some(1L), None, Some(2L)).toDF("id")
      .agg(CappedIds.column(col("id"), 5).as("ids"))
      .select(size(col("ids"))).as[Int].head()
    assert(withNull == 2)
    // SQL surface + literal validation
    GraftFunctions.ensureRegistered(spark)
    val viaSql = spark.sql(
      "SELECT size(capped_ids(id, 2)) FROM VALUES (1L), (2L), (3L), (4L) AS v(id)")
      .as[Int].head()
    assert(viaSql == 3)
    intercept[Exception] {
      spark.sql("SELECT capped_ids(id, id) FROM VALUES (1L) AS v(id)").collect()
    }
  }

  test("rankTopK drops null/NaN cosines instead of ranking them") {
    // corpus vector with a NaN component -> NaN cosine; query must
    // return only the finite-scored candidates (stricter-than-window
    // contract: corrupt vectors surface by absence)
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(Float.NaN, 1.0f)),
      (3L, Seq(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(1.0f, 0.0f))).toDF("q_id", "q_vec")
    val got = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "q_id", "q_vec", k = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L))
  }

  // one unscoped dupClusters run over two components (sizes 2 and 3);
  // only its checkpoint's id and its component sizes leave this frame,
  // so the result itself is unreachable once this returns
  private def dupClustersOnce(): (Int, Seq[Long]) = {
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (10L, 11L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
    val labels = Dedup.dupClusters(pairs)
    val byLabel = labels.groupBy("label").count()
      .select("count").as[Long].collect().sorted.toSeq
    (CheckpointProbe.checkpointId(labels).get, byLabel)
  }

  test("checkpoint lifetime: a dropped dupClusters result frees its blocks") {
    CheckpointProbe.unpersistedDuring(spark) { unpersisted =>
      val (id, byLabel) = dupClustersOnce()
      assert(byLabel == Seq(2L, 3L))
      assert(CheckpointProbe.gcUntil() {
        !CheckpointProbe.cachedRddIds(spark).contains(id) && unpersisted.contains(id)
      }, s"checkpoint RDD $id still holds blocks 30 s after its result was dropped")
    }
  }

  test("checkpoint lifetime: executor storage stays flat across dupClusters runs") {
    val before = CheckpointProbe.cachedRddIds(spark)
    (1 to 3).foreach { run =>
      assert(dupClustersOnce()._2 == Seq(2L, 3L))
      assert(CheckpointProbe.gcUntil() {
        (CheckpointProbe.cachedRddIds(spark) -- before).isEmpty
      }, s"run $run left cached RDDs " +
        (CheckpointProbe.cachedRddIds(spark) -- before).mkString(","))
    }
  }

  test("checkpoint lifetime: held x35/x82 results re-execute after another dedup query and a GC") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "a quick brown fox jumps over the lazy dog near the old mill"),
      (3L, "completely different words fill this short third document"))
      .toDF("doc_id", "text")
    val tfidf = graft.operators.TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 3)
    val spans = Dedup.stripDuplicateSpans(docs, "doc_id", "text", n = 5)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val (tf0, sp0) = (rows(tfidf), rows(spans))
    assert(tf0.size == 9 && sp0.size == 3)
    // another dedup query runs and is dropped; the cleaner frees ITS
    // checkpoint while the two held results keep theirs
    val (other, byLabel) = dupClustersOnce()
    assert(byLabel == Seq(2L, 3L))
    assert(CheckpointProbe.gcUntil() {
      !CheckpointProbe.cachedRddIds(spark).contains(other)
    }, s"the other query's checkpoint RDD $other was never freed")
    assert(rows(tfidf) == tf0)
    assert(rows(spans) == sp0)
  }

  test("persisted fuzzy index: probe equals batch dedup; both index scans shard-pruned") {
    import graft.operators.Dedup
    // corpus 1-6 with internal variety; incoming 100-103 where 100 is
    // a near-dup of corpus doc 2 and 101 of doc 4; 102/103 are novel
    val mk = (s: String) => s + " and the quick brown fox jumps over the lazy dog " +
      "while the rain in spain falls mainly on the plain every single day"
    val corpus = Seq(
      (1L, mk("alpha report one")), (2L, mk("beta survey two")),
      (3L, "completely different tiny text"), (4L, mk("gamma study three")),
      (5L, mk("delta paper four")), (6L, mk("epsilon note five")))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (100L, mk("beta survey two") + " extra"),
      (101L, mk("gamma study three") + " more"),
      (102L, "novel unrelated content about databases and query engines"),
      (103L, "short new thing")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_fuzzy_idx").toString
    Dedup.buildFuzzyIndex(corpus, "doc_id", "text", s"$tmp/idx",
      shingleN = 3, k = 64, bands = 16, nShards = 16)

    // reference: run the batch pair generator over corpus ∪ incoming —
    // same banding, same verification — and keep the crossing pairs
    val expected = Dedup.minHashDupPairs(corpus.unionByName(incoming),
        "doc_id", "text", shingleN = 3, k = 64, bands = 16, threshold = 0.5)
      .where(col("id_a") <= 6L && col("id_b") >= 100L)
      .select(col("id_b").as("in_id"), col("id_a").as("corpus_id"), col("jaccard"))
    val probed = Dedup.probeFuzzyIndex(spark, s"$tmp/idx", incoming,
      "doc_id", "text", threshold = 0.5)
    assert(probed.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(probed).count() == 0)
    assert(probed.count() > 0, "fixture must produce cross dups")

    val survivors = Dedup.incrementalFuzzySurvivors(spark, s"$tmp/idx",
      incoming, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(102L, 103L))

    // plan audit (checkpointCandidates=false keeps the band join in
    // the returned plan): BOTH persisted tables must be read under a
    // static partition filter — bands/ on the batch's bucket shards,
    // sets/ on the candidates' id shards
    val lazyProbe = Dedup.probeFuzzyIndex(spark, s"$tmp/idx", incoming,
      "doc_id", "text", threshold = 0.5, checkpointCandidates = false)
    val scans = lazyProbe.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    Seq("__shard", "__idshard").foreach { shardCol =>
      val filters = scans.flatMap(_.partitionFilters)
        .filter(_.references.exists(_.name == shardCol))
      assert(filters.exists {
        case _: org.apache.spark.sql.catalyst.expressions.IsNotNull => false
        case _ => true
      }, s"no pruning $shardCol partition filter in: " +
        scans.flatMap(_.partitionFilters).mkString(", "))
    }
  }

  test("persisted IVF index: same results as query-time assignment, pruned scan") {
    val corpus = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 2)
      .select((col("vec_id") + 1000).as("q_id"), col("embedding").as("q_vec"))
    val cents = IvfAnn.seedCentroidsInt(corpus, "vec_id", "embedding", nlist = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    IvfAnn.buildIndexInt(corpus, "vec_id", "embedding", cents, s"$tmp/idx")
    val viaIndex = IvfAnn.searchIndexInt(spark, s"$tmp/idx", queries,
      "vec_id", "embedding", "q_id", "q_vec", cents, k = 3, nprobe = 1)
    val direct = IvfAnn.topKInt(corpus, queries,
      "vec_id", "embedding", "q_id", "q_vec", cents, k = 3, nprobe = 1)
    assert(viaIndex.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(viaIndex).count() == 0)
    assert(direct.count() > 0)
    // the probe-cell set must reach the index scan as a STATIC
    // partition filter (an In on the partition column — FileIndex
    // applies it at listing time, so only probed cells' dirs are read)
    val scan = viaIndex.queryExecution.sparkPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    val cellFilters = scan.partitionFilters.filter(
      _.references.exists(_.name == "__cell"))
    assert(cellFilters.exists {
      case _: org.apache.spark.sql.catalyst.expressions.IsNotNull => false
      case _ => true
    }, s"no pruning __cell partition filter in: ${scan.partitionFilters}")
  }

  test("IVF index append: build+append equals a fresh build under pinned centroids; appends touch only their cells") {
    val corpus = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val buildHalf = corpus.where(col("vec_id") < 150)
    val batch = corpus.where(col("vec_id") >= 150)
    val queries = corpus.where(col("vec_id") < 3)
      .select((col("vec_id") + 1000).as("q_id"), col("embedding").as("q_vec"))
    // centroids trained on the BUILD corpus and frozen — the drift contract
    val cents = IvfAnn.seedCentroidsInt(buildHalf, "vec_id", "embedding", nlist = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString
    IvfAnn.buildIndexInt(buildHalf, "vec_id", "embedding", cents, s"$tmp/grown")
    def cellFiles(p: String): Map[String, Int] = {
      val root = new java.io.File(p)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("__cell="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val before = cellFiles(s"$tmp/grown")
    IvfAnn.appendToIndexInt(batch, "vec_id", "embedding", cents, s"$tmp/grown")
    val after = cellFiles(s"$tmp/grown")
    // footprint: cells that gained files == exactly the batch's assigned cells
    val batchCells = batch
      .select(IvfAnn.cellIdInt(col("embedding"), cents).as("c"))
      .distinct().collect().map(r => s"__cell=${r.getInt(0)}").toSet
    val gained = after.keySet.filter(k => after(k) > before.getOrElse(k, 0))
    assert(gained == batchCells,
      s"append must touch exactly the batch's cells: gained=$gained expected=$batchCells")
    // grown index == fresh full build under the SAME pinned centroids
    IvfAnn.buildIndexInt(corpus, "vec_id", "embedding", cents, s"$tmp/fresh")
    Seq(s"$tmp/grown", s"$tmp/fresh").map(spark.read.parquet(_)) match {
      case Seq(g, f) =>
        assert(g.exceptAll(f).count() == 0 && f.exceptAll(g).count() == 0,
          "grown index rows must be bit-identical to a fresh build's")
    }
    val viaGrown = IvfAnn.searchIndexInt(spark, s"$tmp/grown", queries,
      "vec_id", "embedding", "q_id", "q_vec", cents, k = 3, nprobe = 2)
    val viaFresh = IvfAnn.searchIndexInt(spark, s"$tmp/fresh", queries,
      "vec_id", "embedding", "q_id", "q_vec", cents, k = 3, nprobe = 2)
    assert(viaGrown.exceptAll(viaFresh).count() == 0 &&
      viaFresh.exceptAll(viaGrown).count() == 0)
    assert(viaFresh.count() > 0)
  }

  test("semantic intake: grown index blocks later dups; replay idempotent; sequential == one-shot on cliques") {
    import graft.operators.Dedup
    // pseudo-random unit-ish vectors: unrelated ids have cosine far
    // below the 0.999 threshold, so the ONLY pairs are planted copies
    def vec(seed: Long): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(8)(r.nextGaussian().toFloat)
    }
    val corpus = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    // batch 1: 100 copies corpus 5 (corpus dup), 110/111 same novel
    // vector (within-batch dup, min id 110 wins), 112 novel
    val b1 = Seq((100L, vec(5)), (110L, vec(900)), (111L, vec(900)),
      (112L, vec(901))).toDF("vec_id", "embedding")
    // batch 2: 200 copies ACCEPTED 110 (grown-index dup), 201 copies
    // corpus 7, 202 novel
    val b2 = Seq((200L, vec(900)), (201L, vec(7)), (202L, vec(902)))
      .toDF("vec_id", "embedding")
    val cents = IvfAnn.seedCentroidsInt(corpus, "vec_id", "embedding", nlist = 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sem_intake").toString
    IvfAnn.buildIndexInt(corpus, "vec_id", "embedding", cents, s"$tmp/idx")
    // the layout is self-describing: the persisted model round-trips
    val loaded = IvfAnn.loadCentroidsInt(spark, s"$tmp/idx")
    assert(loaded.map(_.cell).toSeq == cents.map(_.cell).toSeq &&
      loaded.zip(cents).forall { case (a, b) => a.c.sameElements(b.c) },
      "loadCentroidsInt must round-trip seedCentroidsInt's model")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val a1 = IvfAnn.intakeStepAgainstIndexInt(spark, s"$tmp/idx", b1,
      "vec_id", "embedding", threshold = 0.999)
    assert(ids(a1) == Set(110L, 112L),
      s"batch-1: corpus dup 100 and within-batch loser 111 must drop: ${ids(a1)}")
    val a2 = IvfAnn.intakeStepAgainstIndexInt(spark, s"$tmp/idx", b2,
      "vec_id", "embedding", threshold = 0.999)
    assert(ids(a2) == Set(202L),
      s"batch-2: grown-index dup 200 and corpus dup 201 must drop: ${ids(a2)}")
    // crash recovery = re-run the same step: batch-2's rows are already
    // appended, but the probe's same-id filter keeps the replay from
    // deduping the batch against its own crashed append — decisions converge
    val a2replay = IvfAnn.intakeStepAgainstIndexInt(spark, s"$tmp/idx", b2,
      "vec_id", "embedding", threshold = 0.999)
    assert(ids(a2replay) == Set(202L),
      s"replaying an intake step must converge on the same decisions: ${ids(a2replay)}")
    // with transitively-closed dup groups (exact copies = cliques),
    // sequential intake lands exactly where one-shot SemDeDup lands
    val concat = corpus.unionByName(b1).unionByName(b2)
    val oneShot = ids(Dedup.clusterSurvivors(concat, "vec_id",
      Dedup.semanticDupPairs(concat, "vec_id", "embedding", cents, 0.999)))
    assert((0L until 40L).toSet ++ ids(a1) ++ ids(a2) == oneShot,
      "sequential universe must equal the one-shot survivor set")
  }

  test("probeIndexSemantic: the batch's cell set prunes the index scan statically") {
    val corpus = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cents = IvfAnn.seedCentroidsInt(corpus, "vec_id", "embedding", nlist = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sem_probe").toString
    IvfAnn.buildIndexInt(corpus, "vec_id", "embedding", cents, s"$tmp/idx")
    val batch = corpus.where(col("vec_id") < 2)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val probe = IvfAnn.probeIndexSemantic(spark, s"$tmp/idx", batch,
      "vec_id", "embedding", "vec_id", "embedding", threshold = 0.9)
    assert(probe.count() >= 2, "each copy must find its original")
    val scan = probe.queryExecution.sparkPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    val cellFilters = scan.partitionFilters.filter(
      _.references.exists(_.name == "__cell"))
    assert(cellFilters.exists {
      case _: org.apache.spark.sql.catalyst.expressions.IsNotNull => false
      case _ => true
    }, s"no pruning __cell partition filter in: ${scan.partitionFilters}")
  }

  test("recallAtK: probing every cell recovers brute force exactly; cellProfile floors shares") {
    val corpus = (0 until 120).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cents = IvfAnn.seedCentroidsInt(corpus, "vec_id", "embedding", nlist = 4)
    val queries = corpus.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // nprobe == nlist: the IVF candidate set IS the corpus, so the
    // audit must read exactly 1.0 for every query — the identity that
    // anchors the whole measurement
    val full = IvfAnn.recallAtK(corpus, queries, "vec_id", "embedding",
      "q_id", "q_vec", cents, k = 3, nprobe = 4)
    assert(full.count() == 10 &&
      full.where(col("recall_ppm") =!= 1000000L).count() == 0,
      "nprobe == nlist must recover brute force exactly")
    // a lossy config still surfaces EVERY query (left join from the
    // query set — zero-hit queries appear as 0, never vanish), bounded
    val lossy = IvfAnn.recallAtK(corpus, queries, "vec_id", "embedding",
      "q_id", "q_vec", cents, k = 3, nprobe = 1)
    assert(lossy.count() == 10 &&
      lossy.where(col("recall_ppm") > 1000000L).count() == 0)
    val rows = IvfAnn.cellProfile(corpus, "vec_id", "embedding", cents).collect()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == 120L,
      "every vector lands in exactly one cell")
    val shareSum = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - rows.length,
      s"floored integer shares must sum to just under 1e6: $shareSum")
  }

  test("Bloom-screened exact probe: identical decisions, incremental sidecar, replay-safe") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloom_idx").toString
    def text(i: Long) = s"document number $i with its own distinct content body"
    val corpus = (0L until 60L).map(i => (i, text(i))).toDF("doc_id", "text")
    // two identical indexes; one gains the bloom sidecar
    Dedup.buildExactIndex(corpus, "doc_id", col("text"), s"$tmp/plain", nShards = 8)
    Dedup.buildExactIndex(corpus, "doc_id", col("text"), s"$tmp/bloomed", nShards = 8)
    Dedup.buildExactBloom(spark, s"$tmp/bloomed")
    // mixed batch: 5 dups of indexed docs + 5 genuinely new
    val batch = ((100L until 105L).map(i => (i, text(i - 100))) ++
      (200L until 205L).map(i => (i, s"fresh text $i never indexed")))
      .toDF("doc_id", "text")
    def pairs(path: String) =
      Dedup.probeExactIndex(spark, path, batch, "doc_id", col("text"))
        .select("in_id", "corpus_id").collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSet
    // THE EQUIVALENCE: the screen changes I/O, never decisions
    val plain = pairs(s"$tmp/plain")
    assert(pairs(s"$tmp/bloomed") == plain,
      "bloom screen must not change probe decisions")
    assert(plain.map(_._1) == (100L until 105L).toSet,
      "exactly the five dups must surface")
    // incremental maintenance: intake steps keep the sidecar current —
    // a dup of batch-2 content arriving in batch-3 is still caught
    val b2 = Seq((300L, "late content first seen in batch two")).toDF("doc_id", "text")
    val b3 = Seq((400L, "late content first seen in batch two"),
      (401L, "and one more genuinely new row here")).toDF("doc_id", "text")
    Dedup.intakeStepAgainstExactIndex(spark, s"$tmp/bloomed", b2, "doc_id", col("text"))
    val acc3 = Dedup.intakeStepAgainstExactIndex(spark, s"$tmp/bloomed",
      b3, "doc_id", col("text")).select("doc_id").as[Long].collect().toSet
    assert(acc3 == Set(401L),
      s"the bloom-maintained index must catch the cross-batch dup: $acc3")
    // replay safety: a duplicated bloom append (crash replay) leaves
    // decisions unchanged (probe reads the relation through distinct)
    Bloom.build(b2.select(md5(col("text")).as("digest")), col("digest"),
        7, 1L << 20)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$tmp/bloomed/bloom")
    assert(pairs(s"$tmp/bloomed") == plain)
  }

  test("Pca: moments are layout-invariant; eigen is a real decomposition; projection recovers low-rank structure") {
    // synthetic low-rank corpus: every vector is a combination of two
    // fixed orthogonal directions + deterministic small residue, so
    // the top-2 components must capture almost all variance
    val dim = 8
    val b1 = Array.tabulate(dim)(j => if (j < 4) 0.5 else 0.0)
    val b2 = Array.tabulate(dim)(j => if (j >= 4) 0.5 else 0.0)
    val corpus = (0 until 300).map { i =>
      val a = math.sin(i * 0.37) * 2.0
      val b = math.cos(i * 0.53) * 1.0
      val v = Array.tabulate(dim)(j =>
        (a * b1(j) + b * b2(j) + 0.001 * ((i * 7 + j) % 5 - 2)).toFloat)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")

    // 1. the integer moment state is identical under any partitioning
    val st1 = graft.operators.Pca.momentState(corpus, "embedding")
    val st2 = graft.operators.Pca.momentState(corpus.repartition(13), "embedding")
    assert(st1.n === 300L && st1.dim === dim)
    assert(st1.s.toSeq === st2.s.toSeq && st1.g.toSeq === st2.g.toSeq,
      "Long-sum moments must be bit-identical under re-layout")

    // 2. eigen: orthonormal components, descending variances, and
    //    C·v = λ·v within numerical tolerance
    val cov = graft.operators.Pca.covariance(st1)
    val (vals, comps) = graft.operators.Pca.eigenSym(cov)
    assert(vals.zip(vals.tail).forall { case (a, b) => a >= b - 1e-12 },
      "eigenvalues must descend")
    for (i <- comps.indices; j <- comps.indices) {
      val d = comps(i).zip(comps(j)).map { case (x, y) => x * y }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-9, s"components not orthonormal ($i,$j): $d")
    }
    val av = cov.map(row => row.zip(comps(0)).map { case (x, y) => x * y }.sum)
    av.zip(comps(0).map(_ * vals(0))).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-9, "C v != lambda v for the top component")
    }
    // low-rank structure: top-2 explain ~all variance
    val total = (0 until dim).map(i => cov(i)(i)).sum
    assert((vals(0) + vals(1)) / total > 0.999,
      s"top-2 must capture the planted 2D structure: ${(vals(0) + vals(1)) / total}")

    // 3. projection: map-only, deterministic, and the projected
    //    variance matches the eigenvalues
    val (v2, c2, mean) = graft.operators.Pca.fit(corpus, "embedding", 2)
    val proj = graft.operators.Pca.project(corpus, "embedding", "pca", c2, mean)
      .select(col("vec_id"), col("pca")(0).as("p0"), col("pca")(1).as("p1"))
    val rows = proj.collect()
    assert(rows.length === 300)
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val var0 = variance(rows.map(_.getDouble(1)).toSeq)
    val var1 = variance(rows.map(_.getDouble(2)).toSeq)
    // quantization makes the moments a ~1e-3-granular view of the
    // corpus; the projected variance matches its eigenvalue to ~1%
    assert(math.abs(var0 - v2(0)) / v2(0) < 0.02,
      s"projected variance $var0 vs eigenvalue ${v2(0)}")
    assert(math.abs(var1 - v2(1)) / v2(1) < 0.02,
      s"projected variance $var1 vs eigenvalue ${v2(1)}")
    assert(var0 > var1, "component order must carry to projections")
  }

  test("probeCoverage auto-tuning: the derived nprobe meets the recall target on the recallAtK audit") {
    val corpus = (0 until 160).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cents = IvfAnn.seedCentroidsInt(corpus, "vec_id", "embedding", nlist = 8)
    val queries = corpus.where(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val curve = IvfAnn.probeCoverage(corpus, "embedding",
      queries, "q_vec", cents)
    val rows = curve.collect().sortBy(_.getInt(0))
    // curve sanity: monotone non-decreasing, full probe ≈ full mass
    assert(rows.map(_.getInt(0)).toSeq == (1 to 8),
      "one curve row per candidate nprobe")
    assert(rows.sliding(2).forall(p => p.length < 2 ||
      p(0).getLong(1) <= p(1).getLong(1)), "coverage must be monotone")
    assert(rows.last.getLong(1) >= 999990L,
      s"nprobe == nlist must cover ~all mass: ${rows.last.getLong(1)}")
    // the derived operating point: smallest nprobe with coverage >=
    // the caller's target
    val target = 500000L
    val chosen = IvfAnn.nprobeForTarget(curve, target)
    assert(chosen >= 1 && chosen < 8,
      s"a 0.5 mass target must not need an exhaustive probe: $chosen")
    assert(rows(chosen - 1).getLong(1) >= target)
    if (chosen > 1) assert(rows(chosen - 2).getLong(1) < target,
      "chosen must be the SMALLEST qualifying nprobe")
    // THE CONTRACT (r9 verdict item 7): mass coverage is a
    // conservative recall proxy, so the x62 audit at the chosen
    // nprobe must read >= the target for the mean query
    val audit = IvfAnn.recallAtK(corpus, queries, "vec_id", "embedding",
      "q_id", "q_vec", cents, k = 5, nprobe = chosen)
    val meanRecall = audit.agg(avg(col("recall_ppm"))).collect()(0).getDouble(0)
    assert(meanRecall >= target.toDouble,
      s"mean recall $meanRecall below target $target at nprobe=$chosen")
    // the targeted search wrapper derives the same nprobe from the
    // persisted layout and returns identical neighbors
    val tmp = java.nio.file.Files.createTempDirectory("graft_tune").toString
    IvfAnn.buildIndexInt(corpus, "vec_id", "embedding", cents, s"$tmp/idx")
    val (res, usedNprobe) = IvfAnn.searchIndexIntAtTarget(spark, s"$tmp/idx",
      queries, "vec_id", "embedding", "q_id", "q_vec", k = 5,
      targetMassPpm = target)
    assert(usedNprobe == chosen, s"indexed curve chose $usedNprobe != $chosen")
    val direct = IvfAnn.searchIndexInt(spark, s"$tmp/idx", queries,
      "vec_id", "embedding", "q_id", "q_vec", cents, k = 5, nprobe = chosen)
    assert(res.select("query_id", "neighbor_id").collect().toSet ==
      direct.select("query_id", "neighbor_id").collect().toSet)
  }

  test("diversitySample: over-cap cells shrink to the cap, under-cap cells pass whole; layout-invariant") {
    val corpus = (0 until 120).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cents = IvfAnn.seedCentroidsInt(corpus, "vec_id", "embedding", nlist = 4)
    val pop = IvfAnn.cellProfile(corpus, "vec_id", "embedding", cents)
      .collect().map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n_vectors")).toMap
    val k = 20
    val sampled = IvfAnn.diversitySample(corpus, "vec_id", "embedding", cents, k)
    val got = sampled.groupBy("cell").count()
      .collect().map(r => r.getAs[Int]("cell").toLong -> r.getAs[Long]("count")).toMap
    assert(pop.keySet == got.keySet, "no cell may vanish from the sample")
    pop.foreach { case (cell, n) =>
      assert(got(cell) == math.min(n, k.toLong),
        s"cell $cell: pop $n, cap $k, sampled ${got(cell)}")
    }
    // the sample is corpus rows (semi-join semantics), and the draw is
    // a pure id function — a different layout picks the same ids
    val ids = sampled.select("vec_id").as[Long].collect().toSet
    val ids2 = IvfAnn.diversitySample(corpus.repartition(7), "vec_id",
      "embedding", cents, k).select("vec_id").as[Long].collect().toSet
    assert(ids == ids2, "selection must be layout-invariant")
    assert(ids.subsetOf((0L until 120L).toSet))
  }

  test("appendToFuzzyIndex saturation: no bucket ever exceeds maxBucketSize; sets rows always land") {
    import graft.operators.Dedup
    // identical text -> identical signature -> every doc lands in the
    // SAME bucket of every band; cap 3 with 4 bands makes the
    // saturation arithmetic exact
    def docsAt(ids: Seq[Long]) = ids
      .map(i => (i, "the exact same boilerplate text repeated for everyone"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_saturate").toString
    Dedup.buildFuzzyIndex(docsAt(Seq(1L, 2L)), "doc_id", "text", s"$tmp/idx",
      shingleN = 3, k = 16, bands = 4, nShards = 2, maxBucketSize = 3)
    def maxBucket(): Long = spark.read.parquet(s"$tmp/idx/bands")
      .groupBy("band", "bucket").count().agg(max("count")).head().getLong(0)
    assert(maxBucket() == 2)
    // 2 existing + 2 new > 3 -> every band row of the batch withheld;
    // sets rows still append (the docs stay verification-probeable)
    val r1 = Dedup.appendToFuzzyIndex(spark, s"$tmp/idx",
      docsAt(Seq(10L, 11L)), "doc_id", "text")
    assert(r1.setsRows == 2 && r1.bandRows == 0 && r1.saturatedRows == 2 * 4,
      s"over-cap batch must withhold all band rows: $r1")
    assert(maxBucket() == 2)
    // 2 + 1 = 3 <= 3 -> appended exactly to the cap
    val r2 = Dedup.appendToFuzzyIndex(spark, s"$tmp/idx",
      docsAt(Seq(12L)), "doc_id", "text")
    assert(r2.bandRows == 4 && r2.saturatedRows == 0, s"at-cap append must land: $r2")
    assert(maxBucket() == 3)
    // 3 + 1 > 3 -> saturated again; the cap is an invariant, not a race
    val r3 = Dedup.appendToFuzzyIndex(spark, s"$tmp/idx",
      docsAt(Seq(13L)), "doc_id", "text")
    assert(r3.bandRows == 0 && r3.saturatedRows == 4)
    assert(maxBucket() == 3, "a bucket must never exceed maxBucketSize under any append sequence")
  }

  test("growing-index crash recovery: a partial append flips no decision; replaying a step is idempotent") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val corpusText = "the alpha report describes quarterly revenue for " +
      "the northern retail division in considerable detail"
    val novelText = "a completely different essay about combustion " +
      "engines and pressure curves under partial load"
    val novel2 = "another fresh piece on storage layouts and buffer " +
      "pools in modern database systems"
    val corpus = Seq((1L, corpusText)).toDF("doc_id", "text")
    // two universes: 'crash' fails between appendToFuzzyIndex's two
    // writes (sets/ landed, bands/ did not), 'clean' never crashes;
    // the recovery rule — re-run the SAME intake step — must make
    // their decisions identical from then on
    val tmp = java.nio.file.Files.createTempDirectory("graft_crash").toString
    for (p <- Seq("crash", "clean"))
      Dedup.buildFuzzyIndex(corpus, "doc_id", "text", s"$tmp/$p",
        shingleN = 3, k = 64, bands = 16, nShards = 8)
    // batch 1: 10 is novel (accepted), 11 near-dups the corpus (dropped)
    val batch1 = Seq((10L, novelText), (11L, corpusText + " extra words"))
      .toDF("doc_id", "text")
    // the crash fixture: ONLY the sets/ half of batch 1's accepted doc
    // (what the window between the two append jobs leaves behind)
    val m = Dedup.fuzzyIndexMeta(spark, s"$tmp/crash")
    Dedup.minHashBaseFromArrays(Dedup.shingleHashArrays(
        Seq((10L, novelText)).toDF("doc_id", "text"), "doc_id", "text",
        m.shingleN), m.k)
      .withColumn("__idshard", pmod(col("id").cast("long"), lit(m.nShards.toLong)))
      .write.mode("append").partitionBy("__idshard").parquet(s"$tmp/crash/sets")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    val accCrash = ids(Dedup.intakeStepAgainstFuzzyIndex(spark, s"$tmp/crash",
      batch1, "doc_id", "text", threshold = 0.5))
    val accClean = ids(Dedup.intakeStepAgainstFuzzyIndex(spark, s"$tmp/clean",
      batch1, "doc_id", "text", threshold = 0.5))
    assert(accCrash == Seq(10L) && accClean == Seq(10L),
      s"replay over a half-applied batch must converge: crash=$accCrash clean=$accClean")
    // batch 2 sees converged indexes: 20 near-dups batch-1's accepted
    // doc (dropped — including in the crashed universe, whose index now
    // carries duplicate sets rows for 10), 21 is novel (accepted)
    val batch2 = Seq((20L, novelText + " appended"), (21L, novel2))
      .toDF("doc_id", "text")
    val b2Crash = ids(Dedup.intakeStepAgainstFuzzyIndex(spark, s"$tmp/crash",
      batch2, "doc_id", "text", threshold = 0.5))
    val b2Clean = ids(Dedup.intakeStepAgainstFuzzyIndex(spark, s"$tmp/clean",
      batch2, "doc_id", "text", threshold = 0.5))
    assert(b2Crash == Seq(21L) && b2Clean == Seq(21L),
      s"post-recovery decisions must match the never-crashed universe: " +
        s"crash=$b2Crash clean=$b2Clean")
    // replay AFTER a completed append (crash before the caller's
    // survivors write): the same step must return the same accepted
    // rows — not drop the batch against its own earlier append
    val replay = ids(Dedup.intakeStepAgainstFuzzyIndex(spark, s"$tmp/clean",
      batch1, "doc_id", "text", threshold = 0.5))
    assert(replay == Seq(10L),
      s"a replayed step must be idempotent, got $replay")
    // the exact tier obeys the same two contracts
    Dedup.buildExactIndex(corpus, "doc_id", col("text"), s"$tmp/exidx",
      nShards = 4)
    val eb = Seq((30L, "unique new content entirely"), (31L, corpusText))
      .toDF("doc_id", "text")
    val e1 = ids(Dedup.intakeStepAgainstExactIndex(spark, s"$tmp/exidx",
      eb, "doc_id", col("text")))
    val e2 = ids(Dedup.intakeStepAgainstExactIndex(spark, s"$tmp/exidx",
      eb, "doc_id", col("text")))
    assert(e1 == Seq(30L) && e2 == Seq(30L),
      s"exact-tier replay must be idempotent: first=$e1 replay=$e2")
    val e3 = ids(Dedup.intakeStepAgainstExactIndex(spark, s"$tmp/exidx",
      Seq((40L, "unique new content entirely")).toDF("doc_id", "text"),
      "doc_id", col("text")))
    assert(e3 == Nil,
      "a later exact copy must still drop against the twice-appended digest")
  }

  test("span index: sequential intake == one-shot strip; replay idempotent; appends carry only new grams") {
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft_spanidx").toString
    val docs = Seq(
      (1L, "one two three four five unique tail"),
      (2L, "prefix words one two three four five suffix"),
      (3L, "aa bb cc dd ee xx aa bb cc dd ee"),
      (4L, "totally novel content in batch two here"),
      (5L, "closing one two three four five again"),
      (6L, "totally novel content in batch two here word"))
      .toDF("doc_id", "text")
    val oneShot = Dedup.stripDuplicateSpans(docs, "doc_id", "text", n = 5)
      .collect().map(_.toString).sorted.toSeq
    val b1 = docs.where(col("doc_id") <= 3)
    Dedup.buildSpanIndex(b1, "doc_id", "text", n = 5, s"$tmp/idx", nShards = 4)
    val o1 = Dedup.stripDuplicateSpans(b1, "doc_id", "text", n = 5)
    val b2 = docs.where(col("doc_id") > 3)
    val o2 = Dedup.intakeStepAgainstSpanIndex(spark, s"$tmp/idx", b2,
      "doc_id", "text")
    val sequential = (o1.collect() ++ o2.collect()).map(_.toString).sorted.toSeq
    assert(sequential == oneShot,
      s"sequential != one-shot:\n$sequential\nvs\n$oneShot")
    // replay the SAME step after its append completed: the owner rule
    // must ignore the batch's own grams and converge to the same rewrite
    val replay = Dedup.intakeStepAgainstSpanIndex(spark, s"$tmp/idx", b2,
      "doc_id", "text").collect().map(_.toString).sorted.toSeq
    assert(replay == o2.collect().map(_.toString).sorted.toSeq,
      s"span-intake replay must be idempotent, got $replay")
    // the append carries only grams the state had not seen: batch 3
    // repeats batch-2 content, so after its intake the state's distinct
    // gram set must not grow
    val gramsBefore = spark.read.parquet(s"$tmp/idx/grams")
      .select("g").distinct().count()
    val b3 = Seq((7L, "totally novel content in batch two here"))
      .toDF("doc_id", "text")
    val o3 = Dedup.intakeStepAgainstSpanIndex(spark, s"$tmp/idx", b3,
      "doc_id", "text")
    assert(o3.select("n_removed").as[Long].collect().head == 7L,
      "a whole-doc span repeat arriving a batch later must be cut to nothing")
    val gramsAfter = spark.read.parquet(s"$tmp/idx/grams")
      .select("g").distinct().count()
    assert(gramsAfter == gramsBefore,
      s"no new grams may append for an all-duplicate batch: $gramsBefore -> $gramsAfter")
    // takedown: doc 1 founded three grams (7 tokens -> 3 five-grams;
    // the shared "one two three four five" is owned by doc 1 as the
    // min id). Deleting doc 1 frees exactly those, so a new copy of
    // the freed span is ADMITTED intact while spans founded by
    // retained docs keep cutting
    val delRep = Dedup.deleteFromSpanIndex(spark, s"$tmp/idx",
      Seq((1L, "one two three four five unique tail")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(delRep.rowsDeleted == 3L, s"doc 1's founded grams must go: $delRep")
    val afterDel = Dedup.intakeStepAgainstSpanIndex(spark, s"$tmp/idx",
      Seq((30L, "one two three four five"),
          (31L, "aa bb cc dd ee xx aa bb cc dd ee")).toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(afterDel(30L) == (("one two three four five", 0L)),
      s"post-delete: the freed span must be admitted intact: $afterDel")
    assert(afterDel(31L)._2 == 11L,
      s"post-delete: retained-founder spans must keep cutting: $afterDel")
    // compaction: the grams table collapses to one file per shard and
    // probes are layout-invariant across the destroy-last swap
    val probeBefore = Dedup.intakeStepAgainstSpanIndex(spark, s"$tmp/idx",
      Seq((40L, "aa bb cc dd ee probe doc")).toDF("doc_id", "text"),
      "doc_id", "text").collect().map(_.toString).sorted.toSeq
    val (cb, ca) = graft.operators.Compaction.compactSpanIndex(spark, s"$tmp/idx")
    assert(ca < cb && graft.operators.Compaction
      .partFileCounts(spark, s"$tmp/idx/grams").values.forall(_ == 1),
      s"grams must collapse to one file per shard: $cb -> $ca")
    val probeAfter = Dedup.intakeStepAgainstSpanIndex(spark, s"$tmp/idx",
      Seq((40L, "aa bb cc dd ee probe doc")).toDF("doc_id", "text"),
      "doc_id", "text").collect().map(_.toString).sorted.toSeq
    assert(probeAfter == probeBefore,
      "span probes must be layout-invariant across compaction")
  }

  test("index takedown: deleted docs stop blocking copies; rewrites touch only their shards; meta invariant") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val tA = "the alpha report describes quarterly revenue for the " +
      "northern retail division in considerable detail"
    val tB = "a second corpus document concerning maritime logistics " +
      "and the scheduling of container vessels"
    val tmp = java.nio.file.Files.createTempDirectory("graft_takedown").toString

    // ---- exact tier ----
    Dedup.buildExactIndex(Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"),
      "doc_id", col("text"), s"$tmp/ex", nShards = 8)
    def exProbe(id: Long, t: String): Seq[Long] =
      Dedup.intakeStepAgainstExactIndex(spark, s"$tmp/ex",
        Seq((id, t)).toDF("doc_id", "text"), "doc_id", col("text"))
        .select("doc_id").as[Long].collect().toSeq
    assert(exProbe(10L, tA) == Nil, "pre-delete: the copy must be blocked")
    def partFiles(dir: String): Map[String, Set[String]] = {
      val d = new java.io.File(dir)
      d.listFiles().filter(_.isDirectory).map(p =>
        p.getName -> p.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    }
    val exBefore = partFiles(s"$tmp/ex/digests")
    val exMeta = spark.read.parquet(s"$tmp/ex/meta").collect().toSeq
    val exRep = Dedup.deleteFromExactIndex(spark, s"$tmp/ex",
      Seq((1L, tA)).toDF("doc_id", "text"), "doc_id", col("text"))
    assert(exRep.rowsDeleted == 1L, s"one digest row must go: $exRep")
    val exAfter = partFiles(s"$tmp/ex/digests")
    val exTouched = exRep.touchedShards.map(s => s"__shard=$s").toSet
    assert(exBefore.keySet.diff(exTouched).forall(k => exAfter(k) == exBefore(k)),
      "untouched exact shards must keep their exact files")
    assert(spark.read.parquet(s"$tmp/ex/meta").collect().toSeq == exMeta)
    assert(exProbe(11L, tA) == Seq(11L),
      "post-delete: a new copy of the removed doc must be ADMITTED")
    assert(exProbe(12L, tB) == Nil,
      "post-delete: the surviving doc must still block its copies")

    // ---- fuzzy tier ----
    Dedup.buildFuzzyIndex(Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"),
      "doc_id", "text", s"$tmp/fz", shingleN = 3, k = 64, bands = 16,
      nShards = 8)
    def fzProbe(id: Long, t: String): Seq[Long] =
      Dedup.incrementalFuzzySurvivors(spark, s"$tmp/fz",
        Seq((id, t)).toDF("doc_id", "text"), "doc_id", "text", 0.5)
        .select("doc_id").as[Long].collect().toSeq
    assert(fzProbe(20L, tA + " extra") == Nil,
      "pre-delete: the near-copy must be blocked")
    val fzSetsBefore = partFiles(s"$tmp/fz/sets")
    val fzBandsBefore = partFiles(s"$tmp/fz/bands")
    val fzMeta = spark.read.parquet(s"$tmp/fz/meta").collect().toSeq
    val fzRep = Dedup.deleteFromFuzzyIndex(spark, s"$tmp/fz",
      Seq(Tuple1(1L)).toDF("doc_id"), "doc_id")
    assert(fzRep("sets").rowsDeleted == 1L &&
      fzRep("bands").rowsDeleted == 16L,
      s"doc 1's sets row and all 16 band rows must go: $fzRep")
    assert(fzRep("sets").touchedShards == Seq(1L % 8),
      "sets rewrite must touch exactly the id's shard")
    val fzSetsAfter = partFiles(s"$tmp/fz/sets")
    val fzBandsAfter = partFiles(s"$tmp/fz/bands")
    val setsTouched = fzRep("sets").touchedShards.map(s => s"__idshard=$s").toSet
    val bandsTouched = fzRep("bands").touchedShards.map(s => s"__shard=$s").toSet
    assert(fzSetsBefore.keySet.diff(setsTouched)
      .forall(k => fzSetsAfter(k) == fzSetsBefore(k)),
      "untouched sets shards must keep their exact files")
    assert(fzBandsBefore.keySet.diff(bandsTouched)
      .forall(k => fzBandsAfter(k) == fzBandsBefore(k)),
      "untouched bands shards must keep their exact files")
    assert(spark.read.parquet(s"$tmp/fz/meta").collect().toSeq == fzMeta)
    assert(fzProbe(21L, tA + " extra") == Seq(21L),
      "post-delete: a near-copy of the removed doc must be ADMITTED")
    assert(fzProbe(22L, tB + " extra") == Nil,
      "post-delete: the surviving doc must still block its near-copies")
  }

  test("IVF takedown: a deleted vector stops surfacing as a neighbor; rewrite touches only its cells") {
    val corpus = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cents = IvfAnn.seedCentroidsInt(corpus, "vec_id", "embedding", nlist = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_del").toString
    IvfAnn.buildIndexInt(corpus, "vec_id", "embedding", cents, s"$tmp/idx")
    // the query IS vec 5's embedding — pre-delete its nearest neighbor
    // is vec 5 itself (cosine 1)
    val queries = corpus.where(col("vec_id") === 5)
      .select((col("vec_id") + 1000).as("q_id"), col("embedding").as("q_vec"))
    def nearest(): Long = IvfAnn.searchIndexInt(spark, s"$tmp/idx", queries,
      "vec_id", "embedding", "q_id", "q_vec", cents, k = 1, nprobe = 8)
      .select("neighbor_id").as[Long].collect().head
    assert(nearest() == 5L, "pre-delete: the vector must be its own neighbor")
    def cellFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(s"$tmp/idx")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("__cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = cellFiles()
    val rep = IvfAnn.deleteFromIndexInt(spark, s"$tmp/idx",
      corpus.where(col("vec_id") === 5), "vec_id", "embedding", cents)
    assert(rep.rowsDeleted == 1L, s"one index row must go: $rep")
    val after = cellFiles()
    val touched = rep.touchedShards.map(c => s"__cell=$c").toSet
    assert(before.keySet.diff(touched).forall(k => after(k) == before(k)),
      "untouched cells must keep their exact files")
    assert(nearest() != 5L,
      "post-delete: the removed vector must stop surfacing as a neighbor")
    assert(spark.read.parquet(s"$tmp/idx").count() == 299)
  }

  test("exact digest index: pruned probe, cross-batch drop, append touches only its shards") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "alpha report"), (2L, "beta survey"),
      (10L, "beta survey"),              // corpus dup -> dropped in b1
      (11L, "fresh thing"), (12L, "fresh thing"), // in-batch dup -> 12 dropped
      (20L, "fresh thing"),              // CROSS-batch dup -> dropped in b2
      (21L, "brand new")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_exact_idx").toString
    Dedup.buildExactIndex(docs.where(col("doc_id") < 10), "doc_id", col("text"),
      s"$tmp/idx", nShards = 4)
    def dirFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(s"$tmp/idx/digests")
      root.listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    }
    val before = dirFiles()
    val s1 = Dedup.intakeStepAgainstExactIndex(spark, s"$tmp/idx",
      docs.where(col("doc_id") >= 10 && col("doc_id") < 20), "doc_id", col("text"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s1 == Seq(11L), "corpus dup 10 and in-batch dup 12 must drop")
    val gained = dirFiles().keySet.filter(k =>
      !before.contains(k) ||
        (dirFiles()(k) -- before(k)).exists(_.endsWith(".parquet")))
    assert(gained.nonEmpty && gained.size <= 1,
      s"one accepted digest must touch at most one shard, got $gained")
    val s2 = Dedup.intakeStepAgainstExactIndex(spark, s"$tmp/idx",
      docs.where(col("doc_id") >= 20), "doc_id", col("text"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s2 == Seq(21L), "cross-batch dup 20 must drop against the grown index")
    // lazy probe plan reads digests/ under a static shard filter
    val lazyProbe = Dedup.probeExactIndex(spark, s"$tmp/idx",
      docs.where(col("doc_id") >= 10), "doc_id", col("text"))
    val scans = lazyProbe.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val shardFilters = scans.flatMap(_.partitionFilters)
      .filter(_.references.exists(_.name == "__shard"))
    assert(shardFilters.exists {
      case _: org.apache.spark.sql.catalyst.expressions.IsNotNull => false
      case _ => true
    }, s"no pruning __shard partition filter in: $shardFilters")
  }

  test("index compaction: one file per partition dir, content and probe results unchanged") {
    import graft.operators.{Compaction, Dedup}
    val texts = Seq(
      "alpha report one summarizes quarterly revenue for the northern retail division in detail",
      "beta survey two covers sensor calibration drift across coastal stations during winter",
      "gamma study three examines pollinator decline in alpine meadows over twenty years",
      "novel thing about engines describing combustion chamber pressure curves under partial load",
      "fresh material on storage layers comparing log structured merge trees with heap files",
      "completely new content about databases and planners written from scratch this week")
    def docsAt(ids: Seq[Long]) =
      ids.zip(texts).map { case (i, t) => (i, t + s" variant $i") }.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    Dedup.buildFuzzyIndex(docsAt(Seq(1L, 2L)), "doc_id", "text", s"$tmp/idx",
      shingleN = 3, k = 64, bands = 16, nShards = 2)
    // two appends -> shard dirs accumulate multiple files
    Dedup.appendToFuzzyIndex(spark, s"$tmp/idx", docsAt(Seq(3L, 4L)), "doc_id", "text")
    Dedup.appendToFuzzyIndex(spark, s"$tmp/idx", docsAt(Seq(5L, 6L)), "doc_id", "text")
    assert(Compaction.partFileCounts(spark, s"$tmp/idx/sets").values.max > 1,
      "fixture must fragment before compaction proves anything")
    val setsBefore = spark.read.parquet(s"$tmp/idx/sets").collect()
      .map(_.toString).sorted.toSeq
    val probe = () => Dedup.probeFuzzyIndex(spark, s"$tmp/idx",
        docsAt(Seq(10L)).withColumn("text", concat(col("text"), lit(" probe"))),
        "doc_id", "text", threshold = 0.3, checkpointCandidates = false)
      .collect().map(_.toString).sorted.toSeq
    val probeBefore = probe()
    val rep = Compaction.compactFuzzyIndex(spark, s"$tmp/idx")
    assert(rep("sets")._2 < rep("sets")._1, s"sets must shrink: $rep")
    assert(Compaction.partFileCounts(spark, s"$tmp/idx/sets").values.forall(_ == 1))
    assert(Compaction.partFileCounts(spark, s"$tmp/idx/bands").values.forall(_ == 1))
    val setsAfter = spark.read.parquet(s"$tmp/idx/sets").collect()
      .map(_.toString).sorted.toSeq
    assert(setsAfter == setsBefore, "compaction must not change a single row")
    assert(probe() == probeBefore, "probe results must be layout-invariant")
    // meta untouched — parameters still drive probes
    assert(Dedup.fuzzyIndexMeta(spark, s"$tmp/idx").nShards == 2)

    // IVF layout: same contract
    val corpus = (0 until 100).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cents = IvfAnn.seedCentroidsInt(corpus.where(col("vec_id") < 50),
      "vec_id", "embedding", nlist = 4)
    IvfAnn.buildIndexInt(corpus.where(col("vec_id") < 50),
      "vec_id", "embedding", cents, s"$tmp/ivf")
    IvfAnn.appendToIndexInt(corpus.where(col("vec_id") >= 50),
      "vec_id", "embedding", cents, s"$tmp/ivf")
    val queries = corpus.where(col("vec_id") < 2)
      .select((col("vec_id") + 1000).as("q_id"), col("embedding").as("q_vec"))
    def search() = IvfAnn.searchIndexInt(spark, s"$tmp/ivf", queries,
        "vec_id", "embedding", "q_id", "q_vec", cents, k = 3, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    val searchBefore = search()
    def semProbe() = IvfAnn.probeIndexSemantic(spark, s"$tmp/ivf", queries,
        "q_id", "q_vec", "vec_id", "embedding", threshold = 0.9)
      .collect().map(_.toString).sorted.toSeq
    val semBefore = semProbe()
    val (ivfB, ivfA) = Compaction.compactIvfIndex(spark, s"$tmp/ivf")
    assert(ivfA < ivfB && Compaction.partFileCounts(spark, s"$tmp/ivf")
      .values.forall(_ == 1))
    assert(search() == searchBefore)
    // the persisted centroid model must survive the swap ON DISK —
    // drop the in-process cache so the re-read proves the layout,
    // not the cache, is still self-describing
    IvfAnn.invalidateCentroidCache(s"$tmp/ivf")
    val reloaded = IvfAnn.loadCentroidsInt(spark, s"$tmp/ivf")
    assert(reloaded.map(_.cell).toSeq == cents.map(_.cell).toSeq &&
      reloaded.zip(cents).forall { case (a, b) => a.c.sameElements(b.c) },
      "compaction must carry _centroids/ through the destroy-last swap")
    assert(semProbe() == semBefore,
      "semantic probes must be layout-invariant across compaction")
  }

  test("loading a persisted IVF / IVF-PQ model logs no ignored-paths WARN") {
    // the models live in underscore-named dirs (_centroids/,
    // _codebook/), which Spark's file index treats as hidden when a
    // read names the dir itself
    import graft.operators.Pq
    val corpus = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat).toSeq)
    }.toDF("id", "vec")
    val path = java.nio.file.Files.createTempDirectory("graft_model_load")
      .toString + "/idx"
    Pq.buildIndexIvfPq(corpus, "id", "vec", path, nlist = 4, m = 2, ncode = 4)
    IvfAnn.invalidateCentroidCache(path)
    val (loaded, warnings) = CheckpointProbe.warningsDuring(
      (IvfAnn.loadCentroidsInt(spark, path), Pq.loadCodebook(spark, path)))
    assert(loaded._1.length == 4 && loaded._2.m == 2)
    assert(!warnings.exists(_.contains("All paths were ignored")),
      warnings.mkString("\n"))
  }

  test("gram_hashes/prune_indices: positioned grams, distinct set equals shingle_hashes, merge-walk prune") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql("""SELECT gram_hashes('aa bb cc aa bb cc', 2) AS g,
        shingle_hashes('aa bb cc aa bb cc', 2) AS s,
        gram_hashes('one token', 5) AS short""").head
    val g = r.getSeq[Long](0)
    val s = r.getSeq[Long](1)
    assert(g.length == 5, "6 tokens -> 5 bigram positions, duplicates preserved")
    assert(g(0) == g(3) && g(1) == g(4), "a repeated span repeats its hash")
    assert(g.distinct == s,
      "the distinct positioned set must equal shingle_hashes (no padding branch)")
    assert(r.getSeq[Long](2).isEmpty,
      "a doc shorter than n has no n-span: empty, not one padded shingle")
    val p = spark.sql("""SELECT prune_indices(array('a','b','c','d'),
        array(CAST(1 AS BIGINT), CAST(3 AS BIGINT)))""").head.getSeq[String](0)
    assert(p == Seq("a", "c"))
    // out-of-range and empty drop lists are no-ops
    val q = spark.sql("""SELECT prune_indices(array('a','b'),
        array(CAST(-1 AS BIGINT), CAST(9 AS BIGINT))) AS x,
        prune_indices(array('a','b'), CAST(array() AS ARRAY<BIGINT>)) AS y""").head
    assert(q.getSeq[String](0) == Seq("a", "b") && q.getSeq[String](1) == Seq("a", "b"))
  }

  test("IVF ANN finds the exact neighbor when it shares the query's cell") {
    val corpus = (0 until 200).map { i =>
      val base = Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat)
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") === 42)
      .select((col("vec_id") + 1000).as("q_id"), col("embedding").as("q_vec"))
    val cents = IvfAnn.trainCentroids(corpus, "embedding", nlist = 4)
    assert(cents.length == 4 && cents.head.length == 8)
    val got = IvfAnn.topK(corpus, queries, "vec_id", "embedding", "q_id", "q_vec",
      cents, k = 1, nprobe = 1)
      .select("neighbor_id").as[Long].collect()
    // the identical vector is in the same Voronoi cell by construction
    assert(got.headOption.contains(42L))
  }

  test("NgramBuckets: native == reference column algebra on every edge") {
    import graft.functions.NgramBuckets
    import graft.operators.Sampling
    val docs = Seq(
      (1L, "the quick brown fox"),              // plain multi-token
      (2L, "one"),                              // single token, no bigram
      (3L, ""),                                 // empty -> empty array
      (4L, "...!!!   ??"),                      // punctuation-only -> empty
      (5L, "  UPPER lower 123 MiXeD  "),        // case + digits + padding
      (6L, "a b a b a"),                        // repeated features KEPT
      (7L, "café naïve 中文 mix"), // unicode separators
      (8L, null.asInstanceOf[String]),          // null -> null (row drops)
      (9L, "x" * 300)                           // one very long token
    ).toDF("id", "text")
    for (buckets <- Seq(1, 7, 1024); salt <- Seq("nb", "dsir", "")) {
      val bad = docs.select(col("id"),
          NgramBuckets.column(col("text"), buckets, salt).as("n"),
          Sampling.hashedNgramBucketsReference(col("text"), buckets, salt)
            .as("r"))
        .where(not(col("n") <=> col("r")))
        .collect()
      assert(bad.isEmpty,
        s"buckets=$buckets salt=$salt diverged: ${bad.mkString("; ")}")
    }
    // semantics pinned directly: unigrams then bigrams, duplicates kept
    val row = docs.where(col("id") === 6)
      .select(NgramBuckets.column(col("text"), 1024, "t"))
      .head().getSeq[Int](0)
    assert(row.length === 9, "5 unigrams + 4 bigrams")
    assert(row(0) === row(2) && row(0) === row(4), "repeated 'a' collides")
    assert(row(5) === row(7), "repeated bigram 'a b' collides")
    // null in -> EMPTY array (the reference's coalesce behavior);
    // empty in -> empty array
    val nulls = docs.select(col("id"),
      NgramBuckets.column(col("text"), 64, "t").as("n"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(nulls(8L).exists(_.asInstanceOf[scala.collection.Seq[_]].isEmpty))
    assert(nulls(3L).exists(_.asInstanceOf[scala.collection.Seq[_]].isEmpty))
  }
}
