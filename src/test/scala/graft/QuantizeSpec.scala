package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Quantize, Similarity}

class QuantizeSpec extends SparkTestBase {
  import spark.implicits._

  private def vecDf(vs: Seq[Array[Float]]) =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")

  test("sqTrain computes per-dimension corpus min/max") {
    val df = vecDf(Seq(
      Array(0.0f, -2.0f, 5.0f),
      Array(1.0f, 3.0f, 5.0f),
      Array(0.5f, 0.0f, 5.0f)))
    val st = Quantize.sqTrain(df, "v")
    assert(st.mn.toSeq == Seq(0.0, -2.0, 5.0))
    assert(st.mx.toSeq == Seq(1.0, 3.0, 5.0))
  }

  test("encode/decode round trip: error <= half a quantization step per dim") {
    val rnd = new scala.util.Random(7)
    val vs = Seq.fill(200)(Array.fill(16)((rnd.nextDouble() * 10 - 5).toFloat))
    val df = vecDf(vs)
    val st = Quantize.sqTrain(df, "v")
    val out = df.select(col("id"),
        col("v"),
        Quantize.sqDecode(Quantize.sqEncode(col("v"), st), st).as("dv"))
      .as[(Long, Array[Float], Array[Double])].collect()
    for ((_, v, dv) <- out; d <- v.indices) {
      val step = (st.mx(d) - st.mn(d)) / 255.0
      assert(math.abs(v(d).toDouble - dv(d)) <= step / 2 + 1e-12,
        s"dim $d: ${v(d)} vs ${dv(d)} step=$step")
    }
  }

  test("codes are ints in [0,255]; corpus min/max map to 0 and 255") {
    val df = vecDf(Seq(Array(-1.0f, 10.0f), Array(3.0f, 20.0f)))
    val st = Quantize.sqTrain(df, "v")
    val codes = df.orderBy("id")
      .select(Quantize.sqEncode(col("v"), st)).as[Array[Int]].collect()
    assert(codes(0).toSeq == Seq(0, 0))
    assert(codes(1).toSeq == Seq(255, 255))
  }

  test("constant dimension encodes to 0 and decodes to the constant") {
    val df = vecDf(Seq(Array(4.0f, 1.0f), Array(4.0f, 2.0f)))
    val st = Quantize.sqTrain(df, "v")
    val out = df.orderBy("id").select(
        Quantize.sqEncode(col("v"), st).as("c"),
        Quantize.sqDecode(Quantize.sqEncode(col("v"), st), st).as("dv"))
      .as[(Array[Int], Array[Double])].collect()
    assert(out.forall(_._1(0) == 0))
    assert(out.forall(_._2(0) == 4.0))
  }

  test("out-of-range values clamp (saturate), not wrap") {
    val train = vecDf(Seq(Array(0.0f), Array(1.0f)))
    val st = Quantize.sqTrain(train, "v")
    val probe = vecDf(Seq(Array(-5.0f), Array(9.0f)))
    val codes = probe.orderBy("id")
      .select(Quantize.sqEncode(col("v"), st)).as[Array[Int]].collect()
    assert(codes(0).toSeq == Seq(0))
    assert(codes(1).toSeq == Seq(255))
  }

  test("a ~2^32-magnitude affine value saturates to 255, never wraps through the int cast") {
    // r11 review: floor() returns LONG; clamping AFTER a cast-to-int lets
    // (x-mn)*255/(mx-mn) ~ 2^32 truncate to an arbitrary low-bits code
    // (4294967296 -> 0). The clamp must happen in double space.
    val train = vecDf(Seq(Array(0.0f), Array(1.0f)))
    val st = Quantize.sqTrain(train, "v")
    val wild = vecDf(Seq(Array(1.6843e7f), Array(-1.6843e7f)))
    val codes = wild.orderBy("id")
      .select(Quantize.sqEncode(col("v"), st)).as[Array[Int]].collect()
    assert(codes(0).toSeq == Seq(255), s"positive overflow wrapped: ${codes(0).toSeq}")
    assert(codes(1).toSeq == Seq(0), s"negative overflow wrapped: ${codes(1).toSeq}")
  }

  test("null vector, null element, or dimension mismatch encode to NULL codes") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val train = vecDf(Seq(Array(0.0f, 0.0f), Array(1.0f, 2.0f)))
    val st = Quantize.sqTrain(train, "v")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = true))))
    val rows = Seq(
      Row(0L, null),                        // null vector
      Row(1L, Seq(0.5f, null)),             // null element
      Row(2L, Seq(0.5f)),                   // too short
      Row(3L, Seq(0.5f, 0.5f, 0.5f)),       // too long
      Row(4L, Seq(0.5f, 1.0f)))             // clean
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = df.orderBy("id")
      .select(Quantize.sqEncode(col("v"), st)).as[Option[Array[Int]]].collect()
    assert(out(0).isEmpty && out(1).isEmpty && out(2).isEmpty && out(3).isEmpty,
      s"partial vectors must encode to NULL, got ${out.toSeq}")
    assert(out(4).nonEmpty && out(4).get.forall(c => c >= 0 && c <= 255))
  }

  test("fused graft_sq_cosine is bit-identical to decode-then-cosine") {
    val rnd = new scala.util.Random(11)
    val vs = Seq.fill(300)(Array.fill(32)((rnd.nextDouble() * 6 - 3).toFloat))
    val df = vecDf(vs)
    val st = Quantize.sqTrain(df, "v")
    graft.functions.GridDbScalarFunctions.register(spark)
    val q = transform(lit(vs.head.map(_.toDouble)), _.cast("double"))
    val both = df.select(
        Quantize.sqCosine(q, Quantize.sqEncode(col("v"), st), st).as("fused"),
        Similarity.cosine(q,
          Quantize.sqDecode(Quantize.sqEncode(col("v"), st), st)).as("twostep"))
      .as[(Option[Double], Option[Double])].collect()
    assert(both.nonEmpty)
    both.foreach { case (f, t) => assert(f == t, s"$f vs $t") }
    // at least one genuinely non-null comparison happened
    assert(both.exists(_._1.isDefined))
  }

  test("graft_sq_cosine nulls: length mismatch and zero norm") {
    val df = vecDf(Seq(Array(1.0f, 2.0f), Array(0.0f, 0.0f)))
    val st = Quantize.sqTrain(df, "v")
    graft.functions.GridDbScalarFunctions.register(spark)
    // zero-norm corpus row (all-min dims decode to the min, but a zero
    // QUERY vector forces denom 0)
    val zeroQ = transform(lit(Array(0.0, 0.0)), _.cast("double"))
    val r = df.select(
        Quantize.sqCosine(zeroQ, Quantize.sqEncode(col("v"), st), st).as("c"))
      .as[Option[Double]].collect()
    assert(r.forall(_.isEmpty))
    // length mismatch -> null
    val shortQ = transform(lit(Array(1.0)), _.cast("double"))
    val r2 = df.select(
        Quantize.sqCosine(shortQ, Quantize.sqEncode(col("v"), st), st).as("c"))
      .as[Option[Double]].collect()
    assert(r2.forall(_.isEmpty))
  }

  test("sqTopK recall@10 vs exact brute force on the testdata embeddings") {
    val e = graft.engine.Tables.read(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val sq = Quantize.sqTopK(e, q, "vec_id", "embedding", k = 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(sq.size == exact.size)
    val recall = (sq & exact).size.toDouble / exact.size
    // 8-bit codes keep cosine nearly exact; anything below this is a bug,
    // not quantization noise
    assert(recall >= 0.9, s"recall@10 = $recall")
  }

  test("pqCodebooks fails fast when the training slice cannot fill kCodes") {
    // r11 review: a short codebook would silently mis-score (the flat ADC
    // lut is indexed with a fixed kCodes stride) — must error instead
    val tiny = vecDf(Seq.fill(6)(Array.fill(16)(1.0f)).zipWithIndex
      .map { case (v, i) => v.updated(0, i.toFloat) })
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopK(tiny, tiny.limit(1), "id", "v", k = 2,
        m = 2, kCodes = 16)
    }
    assert(e.getMessage.contains("kCodes"), e.getMessage)
  }

  test("graft_pq_adc equals the aggregate(zip_with(..)) fold it replaced, codegen and interpreted") {
    // every subspace holds the same three values, so a row's codes choose
    // the order its terms are summed in: 1 + 1e16 - 1e16 is 0 left to
    // right but 1 right to left
    val (m, kCodes) = (3, 3)
    val lut = Seq.fill(m)(Seq(1.0, 1e16, -1e16)).flatten
    val inRange = Seq(0, 1, 2).permutations.map(_.map(Option(_))).toSeq
    val nullCode = Seq(Some(0), None, Some(1))
    // flat indexes 4 and 3 are in range, so the fold reads a neighbouring
    // subspace's entry where the kernel nulls (PqAdc's documented divergence)
    val outOfRange = Seq(Seq(Some(kCodes), Some(0), Some(0)), Seq(Some(0), Some(-1), Some(1)))
    val rows = inRange ++ Seq(nullCode) ++ outOfRange
    val df = rows.zipWithIndex.map { case (c, i) => (i.toLong, c, lut) }
      .toDF("id", "codes", "lut")
      .repartition(2) // a LocalRelation projection would be folded by the optimizer, uncompiled
    graft.functions.GridDbScalarFunctions.register(spark)
    // the interpreted fold graft_pq_adc replaced, kept here as its reference
    val fold = expr(s"aggregate(zip_with(codes, sequence(0, ${m - 1}), " +
      s"(c, j) -> element_at(lut, j * $kCodes + c + 1)), 0d, (a, x) -> a + x)")

    def check(confs: (String, String)*): Unit = {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val got = df.select(col("id"),
            call_function("graft_pq_adc", col("codes"), col("lut"), lit(kCodes)).as("adc"),
            fold.as("fold"))
          .as[(Long, Option[Double], Option[Double])].collect()
          .map { case (i, adc, f) => i.toInt -> (adc, f) }.toMap
        inRange.indices.foreach { i =>
          val (adc, f) = got(i)
          assert(adc == f, s"$confs row ${inRange(i)}: kernel $adc vs fold $f")
        }
        // the rows sum one multiset of terms: unequal sums show the order mattered
        assert(inRange.indices.map(got(_)._1).distinct.size > 1, s"$confs: $got")
        assert(got(inRange.size) == (None, None), s"$confs null code: ${got(inRange.size)}")
        outOfRange.indices.foreach { i =>
          val (adc, f) = got(inRange.size + 1 + i)
          assert(adc.isEmpty && f.isDefined, s"$confs row ${outOfRange(i)}: kernel $adc, fold $f")
        }
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    check("spark.sql.codegen.wholeStage" -> "true")
    check("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  }
}
