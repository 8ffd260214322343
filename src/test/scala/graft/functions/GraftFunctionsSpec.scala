package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class GraftFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  GraftFunctions.register(spark)

  test("cosine_sim matches a hand computation (codegen path)") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
      .select(GraftFunctions.cosineSim(col("a"), col("b")).as("c"))
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(df.head().getDouble(0) - expected) < 1e-12)
  }

  test("cosine_sim: identical vectors → 1.0; zero vector → null") {
    val df = Seq(
      (Array(1.0f, 1.0f), Array(1.0f, 1.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f)))
      .toDF("a", "b")
      .select(GraftFunctions.cosineSim(col("a"), col("b")).as("c"))
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0) - 1.0) < 1e-12)
    assert(rows(1).isNullAt(0))
  }

  test("cosine_sim interpreted eval matches codegen result") {
    val expr = CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0f, 2.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(2.0f, 1.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    val interpreted = expr.eval(null).asInstanceOf[Double]
    val viaPlan = Seq((Array(1.0f, 2.0f), Array(2.0f, 1.0f))).toDF("a", "b")
      .select(GraftFunctions.cosineSim(col("a"), col("b"))).head().getDouble(0)
    assert(interpreted === viaPlan)
  }

  test("l2_normalize produces unit vectors; zero vector → null") {
    val rows = Seq(
      (Array(3.0f, 4.0f), "ok"),
      (Array(0.0f, 0.0f), "zero"))
      .toDF("v", "tag")
      .select(col("tag"), GraftFunctions.l2Normalize(col("v")).as("nv"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    val ok = rows("ok").get.asInstanceOf[scala.collection.Seq[Double]]
    assert(math.abs(ok(0) - 0.6) < 1e-12 && math.abs(ok(1) - 0.8) < 1e-12)
    assert(rows("zero").isEmpty)
  }

  test("cosine_sim and l2_normalize return null on null array elements") {
    val rows = spark.sql(
      """SELECT cosine_sim(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 1.0D)) AS c,
                l2_normalize(array(CAST(NULL AS FLOAT), 1.0F)) AS n""").head()
    assert(rows.isNullAt(0) && rows.isNullAt(1))
  }

  test("two instances of each codegen expression in one projection compile") {
    // Generated locals must come from ctx.freshName: with hardcoded names,
    // two instances in one projection declare duplicate Java variables,
    // Janino fails, and Spark silently falls back to interpreted eval.
    // codegen.fallback=false turns that silent fallback into a test failure.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // rolling_hash must hash COLUMNS here: a literal argument is foldable,
      // so ConstantFolding would evaluate it before codegen and the
      // duplicate-instance check would never reach RollingHash's Java.
      val row = Seq((Array(3.0f, 4.0f), Array(4.0f, 3.0f), "x", "y"))
        .toDF("a", "b", "s1", "s2")
        .select(
          GraftFunctions.cosineSim(col("a"), col("b")).as("c1"),
          GraftFunctions.cosineSim(col("b"), col("a")).as("c2"),
          GraftFunctions.l2Normalize(col("a")).as("n1"),
          GraftFunctions.l2Normalize(col("b")).as("n2"),
          GraftFunctions.rollingHash(col("s1")).as("h1"),
          GraftFunctions.rollingHash(col("s2")).as("h2"))
        .head()
      assert(math.abs(row.getDouble(0) - 24.0 / 25.0) < 1e-12)
      assert(row.getDouble(0) === row.getDouble(1))
      val n1 = row.getSeq[Double](2)
      assert(math.abs(n1(0) - 0.6) < 1e-12 && math.abs(n1(1) - 0.8) < 1e-12)
      assert(row.getLong(4) === 'x'.toLong && row.getLong(5) === 'y'.toLong)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("dot_product matches hand computation; sign agrees with cosine; null element → null") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, -5.0f, 6.0f)))
      .toDF("a", "b")
      .select(
        GraftFunctions.dotProduct(col("a"), col("b")).as("d"),
        GraftFunctions.cosineSim(col("a"), col("b")).as("c"))
    val row = df.head()
    assert(row.getDouble(0) === 1.0 * 4 - 2 * 5 + 3 * 6)
    assert(math.signum(row.getDouble(0)) === math.signum(row.getDouble(1)))
    val n = spark.sql(
      "SELECT dot_product(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 1.0D))").head()
    assert(n.isNullAt(0))
  }

  test("two dot_product instances in one projection compile under codegen") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val row = Seq((Array(1.0f, 0.0f), Array(0.5f, 0.5f)))
        .toDF("a", "b")
        .select(
          GraftFunctions.dotProduct(col("a"), col("b")).as("d1"),
          GraftFunctions.dotProduct(col("b"), col("a")).as("d2"))
        .head()
      assert(row.getDouble(0) === 0.5 && row.getDouble(1) === 0.5)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("rolling_hash is deterministic and matches a reference computation") {
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 1000003L + (b & 0xffL))
    val got = Seq("hello world", "").toDF("t")
      .select(GraftFunctions.rollingHash(col("t")).as("h")).as[Long].collect()
    assert(got(0) === ref("hello world"))
    assert(got(1) === ref(""))
  }

  test("simhash64 codegen result equals interpreted eval; two instances compile") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // column input (non-foldable) so the generated Java actually runs
      val row = Seq((Seq("alpha", "beta", "gamma"), Seq("alpha", "beta")))
        .toDF("t1", "t2")
        .select(
          GraftFunctions.simhash64(col("t1")).as("h1"),
          GraftFunctions.simhash64(col("t2")).as("h2"))
        .head()
      val interpreted = SimHash64(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          Seq("alpha", "beta", "gamma"),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
        .eval(null).asInstanceOf[Long]
      assert(row.getLong(0) === interpreted)
      assert(row.getLong(0) !== row.getLong(1))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("simhash64: identical token sets equal; similar sets near in Hamming") {
    val base = (1 to 40).map(i => s"tok$i")
    val similar = base.updated(0, "changed")
    val distinct = (1 to 40).map(i => s"other$i")
    val hashes = Seq(base, base, similar, distinct).toDF("t")
      .select(GraftFunctions.simhash64(col("t")).as("h")).as[Long].collect()
    assert(hashes(0) === hashes(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hashes(0), hashes(2)) < ham(hashes(0), hashes(3)))
    assert(ham(hashes(0), hashes(2)) <= 16)
  }

  test("cdc_hashes: the incremental codegen stream equals the " +
       "closed-form window polynomial, position for position") {
    val text = "the quick brown fox jumps over the lazy dog 0123456789"
    def closedForm(s: String): Seq[Long] =
      (8 to s.length).map { p =>
        (0 until 8).map(j => s.charAt(p - j - 1).toLong *
          math.pow(31.0, j).toLong).sum
      }
    val got = Seq(text).toDF("t")
      .select(GraftFunctions.cdcHashes(col("t")).as("kh"))
      .head().getSeq[Long](0)
    assert(got === closedForm(text))
    // interpreted eval path agrees with the codegen plan path
    val interp = RollingWindowHashes(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(text),
        org.apache.spark.sql.types.StringType))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    assert(interp === got)
  }

  test("cdc_hashes: sub-window and empty strings yield an empty stream; " +
       "null propagates") {
    val rows = Seq(Some("1234567"), Some(""), None).toDF("t")
      .select(GraftFunctions.cdcHashes(col("t")).as("kh")).collect()
    assert(rows(0).getSeq[Long](0).isEmpty)
    assert(rows(1).getSeq[Long](0).isEmpty)
    assert(rows(2).isNullAt(0))
  }

  test("cdc_char_hashes: on single-byte text, element q equals the byte " +
       "stream's element q-7 (pre-round-12 behavior bit-for-bit), with " +
       "-1 sentinels below the first full window") {
    val text = "the quick brown fox jumps over the lazy dog"
    val r = Seq(text).toDF("t")
      .select(GraftFunctions.cdcHashes(col("t")).as("kh"),
        GraftFunctions.cdcCharHashes(col("t")).as("ch"))
      .head()
    val kh = r.getSeq[Long](0)
    val ch = r.getSeq[Long](1)
    assert(ch.length === text.length)
    assert(ch.take(7) === Seq.fill(7)(-1L))
    assert(ch.drop(7) === kh)
  }

  test("cdc_char_hashes: multi-byte text — one element per CHARACTER, " +
       "values equal the byte-window polynomial at each char's last " +
       "byte, -1 where fewer than 8 bytes precede") {
    val text = "héllo wörld — ünïcodé 漢字テスト"
    def ref(s: String): Seq[Long] = {
      val b = s.getBytes("UTF-8")
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var h = 0L
      val p7 = 27512614111L
      for (i <- b.indices) {
        h = if (i < 8) h * 31L + (b(i) & 0xffL)
            else (h - (b(i - 8) & 0xffL) * p7) * 31L + (b(i) & 0xffL)
        if (i == b.length - 1 || (b(i + 1) & 0xC0) != 0x80)
          out += (if (i >= 7) h else -1L)
      }
      out.toSeq
    }
    val got = Seq(text).toDF("t")
      .select(GraftFunctions.cdcCharHashes(col("t")).as("ch"))
      .head().getSeq[Long](0)
    assert(got.length === text.codePointCount(0, text.length))
    assert(got === ref(text))
    // interpreted eval agrees with the codegen path
    val interp = CdcCharHashes(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(text),
        org.apache.spark.sql.types.StringType))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    assert(interp === got)
  }

  test("minhash_sig: every lane equals min(murmur3_seeded) over the " +
       "exploded elements — the former build's values, bit for bit") {
    val seeds = graft.operators.Dedup.minhashSeeds(16, 42L)
    val df = Seq(
      (1L, Seq("the quick", "quick brown", "brown fox")),
      (2L, Seq("a single")),
      (3L, Seq("the quick", "the quick", "ÿüñí ←code", "brown fox")))
      .toDF("doc_id", "shingles")
    val got = df.select($"doc_id",
        GraftFunctions.minhashSig($"shingles", seeds).as("sig"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val aggs = seeds.zipWithIndex.map { case (s, i) =>
      min(GraftFunctions.murmur3Seeded($"s", s)).as(s"h$i") }
    val want = df.select($"doc_id", explode($"shingles").as("s"))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getInt).toSeq).toMap
    assert(got === want)
  }

  test("minhash_sig: null array → null; EMPTY array → null (explode " +
       "emitted no rows); a null ELEMENT contributes the seed itself " +
       "(explode emitted a null row; hash(null) = seed)") {
    val seeds = Seq(7, -13, 123456789)
    val df = Seq(
      (1L, Some(Seq[String]())),
      (2L, None),
      (3L, Some(Seq[String](null, "x"))))
      .toDF("doc_id", "shingles")
    val rows = df.select($"doc_id",
        GraftFunctions.minhashSig($"shingles", seeds).as("sig"))
      .orderBy("doc_id").collect()
    assert(rows(0).isNullAt(1))
    assert(rows(1).isNullAt(1))
    val aggs = seeds.zipWithIndex.map { case (s, i) =>
      min(GraftFunctions.murmur3Seeded($"s", s)).as(s"h$i") }
    val want = df.filter($"doc_id" === 3L)
      .select($"doc_id", explode($"shingles").as("s"))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => (1 to 3).map(r.getInt).toSeq).head
    assert(rows(2).getSeq[Int](1) === want)
  }

  test("minhash_sig interpreted eval equals the codegen result; two " +
       "instances in one projection compile") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val seeds = Seq(1, 2, 3)
    val arr = new GenericArrayData(Array[Any](
      UTF8String.fromString("aa"), UTF8String.fromString("bb")))
    val interp = MinhashSignature(
        Literal(arr, ArrayType(StringType)), seeds)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray().toSeq
    val df = Seq((Seq("aa", "bb"), Seq("aa", "bb"))).toDF("s1", "s2")
    val row = df.select(
        GraftFunctions.minhashSig($"s1", seeds).as("a"),
        GraftFunctions.minhashSig($"s2", Seq(1, 2, 3)).as("b"))
      .collect().head
    assert(row.getSeq[Int](0) === interp)
    assert(row.getSeq[Int](1) === interp)
  }

  test("shingle_array equals the zip_with chain element-for-element " +
    "(normal, short, empty, null-element, n=1 edges)") {
    val rows = Seq(
      Seq("a", "b", "c", "d"),       // normal: 2 trigrams
      Seq("a", "b", "c"),            // exactly n
      Seq("a", "b"),                 // shorter than n → empty
      Seq.empty[String],             // empty → empty
      Seq("a", null, "c", "d"),      // null token → null shingles covering it
      Seq("x")                       // single token
    ).toDF("ws")
    for (n <- Seq(1, 3, 5)) {
      val got = rows.select(
          GraftFunctions.shingleArr(col("ws"), n).as("a"),
          graft.operators.Dedup.shingleArrayZipWith(col("ws"), n).as("b"))
        .collect()
      got.foreach { r =>
        assert(Option(r.getSeq[String](0)) === Option(r.getSeq[String](1)),
          s"n=$n mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
    // null INPUT array → null either way
    val nullRow = Seq((Option.empty[Seq[String]], 1)).toDF("ws", "i")
      .select(GraftFunctions.shingleArr(col("ws"), 3).as("a"),
        graft.operators.Dedup.shingleArrayZipWith(col("ws"), 3).as("b"))
      .head()
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1))
    // interpreted eval matches the plan (codegen) result
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val arr = new GenericArrayData(Array[Any](
      UTF8String.fromString("a"), UTF8String.fromString("b"),
      UTF8String.fromString("c")))
    val interp = ShingleArray(Literal(arr, ArrayType(StringType)), 2)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toArray[UTF8String](StringType).map(_.toString).toSeq
    val viaPlan = Seq(Seq("a", "b", "c")).toDF("ws")
      .select(GraftFunctions.shingleArr(col("ws"), 2)).head().getSeq[String](0)
    assert(interp === viaPlan && interp === Seq("a b", "b c"))
  }

  test("char_grams equals the transform(sequence) chain element-for-element " +
    "(normal, exactly-n, short, empty, multibyte, n=1 edges)") {
    val rows = Seq("hello world", "abc", "ab", "", "héllo wörld", "x", "日本語のテキスト")
      .toDF("p")
    for (n <- Seq(1, 3, 5)) {
      val got = rows.select(
          GraftFunctions.charGrams(col("p"), n).as("a"),
          expr(s"CASE WHEN length(p) >= $n THEN " +
            s"transform(sequence(1, length(p) - ${n - 1}), i -> substring(p, i, $n)) " +
            "ELSE array() END").as("b"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1),
          s"n=$n mismatch on ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
    // null input → null
    val nullRow = Seq(Option.empty[String]).toDF("p")
      .select(GraftFunctions.charGrams(col("p"), 3)).head()
    assert(nullRow.isNullAt(0))
    // interpreted eval matches the plan (codegen shares the same helper)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val interp = CharGrams(Literal(UTF8String.fromString("abcd"), StringType), 3)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toArray[UTF8String](StringType).map(_.toString).toSeq
    assert(interp === Seq("abc", "bcd"))
  }

  test("sliding_min equals the transform/slice/array_min chain " +
    "(normal, exactly-w, short, empty, w=1 edges)") {
    val rows = Seq(
      Seq(5L, 3L, 8L, 1L, 9L, 2L),
      Seq(4L, 4L, 4L, 4L),
      Seq(7L, 2L),
      Seq.empty[Long],
      Seq(42L)
    ).toDF("kh")
    for (w <- Seq(1, 4)) {
      val got = rows.select(
          GraftFunctions.slidingMin(col("kh"), w).as("a"),
          expr(s"CASE WHEN size(kh) >= $w THEN " +
            s"transform(sequence(1, size(kh) - ${w - 1}), i -> array_min(slice(kh, i, $w))) " +
            "ELSE array() END").as("b"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1),
          s"w=$w mismatch: ${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}")
      }
    }
    // null input → null
    val nullRow = Seq((Option.empty[Seq[Long]], 1)).toDF("kh", "i")
      .select(GraftFunctions.slidingMin(col("kh"), 4)).head()
    assert(nullRow.isNullAt(0))
  }

  test("max_run_len equals the aggregate(struct(prev, run, best)) fold " +
    "in codegen and interpreted eval (empty, single, all-equal, null edges)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types._
    val cases = Seq(
      Seq("a", "a", "b", "c", "c", "c", "d"), // normal: longest run 3
      Seq.empty[String],                      // empty → 0
      Seq("x"),                               // single element → 1
      Seq("z", "z", "z", "z"),                // all equal → 4
      Seq("a", null, "a", "b", "b"),          // a null breaks a run
      Seq(null, null, null),                  // nulls never extend a run → 1
      Seq("", "", "a")                        // empty-string tokens do → 2
    )
    val expected = Seq(3, 0, 1, 4, 2, 1, 2)
    // the fold gopherQuality ran before max_run_len replaced it
    val fold = aggregate(col("ws"),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, w) => {
        val run = when(w === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(w.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val rows = (cases.map(Option(_)) :+ None).toDF("ws")
    // keep the projection out of the optimizer (ConvertToLocalRelation
    // would evaluate it interpreted at plan time)
    val modes = Seq(
      "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    val keys = Seq("spark.sql.optimizer.excludedRules", "spark.sql.codegen.fallback",
      "spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      for ((mode, confs) <- modes) {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        // separate projections: the fold is CodegenFallback, which would
        // keep a shared projection out of whole-stage codegen
        val native = rows.select(GraftFunctions.maxRunLen(col("ws")))
        val plan = native.queryExecution.executedPlan
        assert(plan.collect { case w: WholeStageCodegenExec => w }.nonEmpty === (mode == "codegen"),
          s"$mode plan:\n$plan")
        val got = native.collect().map(r => Option(r.get(0)))
        val oracle = rows.select(fold).collect().map(r => Option(r.get(0)))
        assert(got.toSeq === oracle.toSeq, s"$mode: native vs fold")
        assert(got.toSeq === expected.map(Option(_)) :+ None, s"$mode: native vs hand values")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // the expression's own eval, without a plan around it
    cases.zip(expected).foreach { case (c, e) =>
      assert(MaxRunLen(Literal.create(c, ArrayType(StringType))).eval(null) === e, s"eval on $c")
    }
  }
}
