package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Plane-family semantics of the hyperplane LSH signature — the
  * contract `Similarity.lshCandidatePairs` banding relies on.
  */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Seq((1L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)))
    .toDF("vec_id", "embedding")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  test("hyperplaneSig: offset 0 reproduces the 3-arg form") {
    val r = emb.select(
      VectorExpressions.hyperplaneSig(col("emb"), 64, 32).as("s3"),
      VectorExpressions.hyperplaneSig(col("emb"), 64, 32, 0).as("s4"))
      .head()
    assert(r.getLong(0) == r.getLong(1))
  }

  test("hyperplaneSig: distinct offsets give uncorrelated plane families") {
    // 16-bit signatures at offsets 0,16,32,...: families must not
    // repeat (reused planes would collapse banding recall)
    val sigs = emb.select((0 until 8).map(k =>
      VectorExpressions.hyperplaneSig(col("emb"), 64, 16, k * 16).as(s"s$k")): _*)
      .head()
    val values = (0 until 8).map(sigs.getLong)
    assert(values.distinct.size == values.size, s"families repeat: $values")
  }

  test("hyperplaneSig: stacked 16-bit families at aligned offsets equal the 64-bit bits") {
    // bit i of the 64-bit signature uses plane i; a 16-bit signature at
    // offset 16k uses planes 16k..16k+15 — so the stacked families must
    // reassemble the full signature exactly
    val cols = VectorExpressions.hyperplaneSig(col("emb"), 64, 64).as("full") +:
      (0 until 4).map(k =>
        VectorExpressions.hyperplaneSig(col("emb"), 64, 16, k * 16).as(s"p$k"))
    val r = emb.select(cols: _*).head()
    val full = r.getLong(0)
    (0 until 4).foreach { k =>
      assert(((full >>> (16 * k)) & 0xFFFFL) == r.getLong(1 + k), s"band $k mismatch")
    }
  }

  test("hyperplaneBandKeys: fused keys equal per-band hyperplaneSig") {
    val (r, b) = (4, 12)
    val cols = VectorExpressions.hyperplaneBandKeys(col("emb"), 64, r, b).as("fused") +:
      (0 until b).map(band =>
        VectorExpressions.hyperplaneSig(col("emb"), 64, r, band * r).as(s"s$band"))
    val row = emb.select(cols: _*).head()
    val fused = row.getSeq[Long](0)
    (0 until b).foreach { band =>
      assert(fused(band) == row.getLong(1 + band), s"band $band key mismatch")
    }
    intercept[IllegalArgumentException](
      VectorExpressions.HyperplaneBandKeys(null, 64, 65, 2))
  }

  test("hyperplaneSig: misaligned or negative offset rejected") {
    intercept[IllegalArgumentException](
      VectorExpressions.HyperplaneSig(null, 64, 64, 32))
    intercept[IllegalArgumentException](
      VectorExpressions.HyperplaneSig(null, 64, 16, -16))
  }

  test("graft_hyperplane_sig SQL: 4th offset arg accepted, bad arity rejected") {
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("vx_emb")
    val r = spark.sql(
      """SELECT graft_hyperplane_sig(emb, 64, 16) AS s3,
        |       graft_hyperplane_sig(emb, 64, 16, 0) AS s4,
        |       graft_hyperplane_sig(emb, 64, 16, 16) AS shift
        |FROM vx_emb""".stripMargin).head()
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(0) != r.getLong(2))
    val err = intercept[Exception](
      spark.sql("SELECT graft_hyperplane_sig(emb, 64) FROM vx_emb").head())
    assert(err.getMessage.contains("graft_hyperplane_sig"))
  }

  test("curve expressions usable from SQL: interleave_bits and hilbert_2d") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_interleave_bits(3L, 5L, 4) AS z,
        |       graft_hilbert_2d(0L, 0L, 4) AS h0,
        |       graft_hilbert_2d(1L, 0L, 4) AS h1""".stripMargin).head()
    // morton(3,5): x bits 0,1 → z 0,2; y bits 0,2 → z 1,5
    assert(r.getLong(0) == ((1L << 0) | (1L << 2) | (1L << 1) | (1L << 5)))
    // hilbert (this orientation): (0,0) is curve position 0, (1,0) is 1
    assert(r.getLong(1) == 0L && r.getLong(2) == 1L)
  }

  test("unicodeNormalize: NFC folds decomposed onto precomposed, NFKC folds compat") {
    val pre = "café"
    val dec = "café"
    val rows = Seq((1L, pre), (2L, dec), (3L, "Ａ１ ﬁx"),
      (4L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select(col("id"),
        VectorExpressions.unicodeNormalize(col("t"), "NFC").as("nfc"),
        VectorExpressions.unicodeNormalize(col("t"), "NFKC").as("nfkc"))
      .orderBy("id").collect()
    assert(rows(0).getString(1) === pre && rows(1).getString(1) === pre)
    // NFC leaves fullwidth/ligatures alone; NFKC folds them to ASCII
    assert(rows(2).getString(1) === "Ａ１ ﬁx")
    assert(rows(2).getString(2) === "A1 fix")
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
    // unknown form is a named construction-time error
    val e = intercept[IllegalArgumentException](
      VectorExpressions.unicodeNormalize(col("t"), "NFX"))
    assert(e.getMessage.contains("unknown form"))
  }

  test("md5Hash52: byte-assembled value equals the 13-hex-char parse") {
    // r18 optimization pin: the hot path assembles the 52-bit value
    // straight from the raw digest; this is the definition the DuckDB
    // oracles replay digit-by-digit, so the two forms must stay equal
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { i =>
      val bytes = new Array[Byte](rnd.nextInt(40) + 1)
      rnd.nextBytes(bytes)
      val viaHex = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(bytes).substring(0, 13), 16)
      assert(VectorExpressions.md5Hash52(bytes) === viaHex, s"case $i")
    }
  }

  test("graft_dot: float32 inputs are bit-identical to cast-then-dot") {
    // r18 optimization pin: float->double widening is exact, so the
    // float-native loop must reproduce the array<double> path bit for
    // bit (pair joins rely on this to shuffle float32 embeddings)
    val f = Seq((1L,
      Array.tabulate(64)(i => (math.sin(i + 1) * 1e3).toFloat),
      Array.tabulate(64)(i => (math.cos(i * 3 + 2) / 7).toFloat)))
      .toDF("id", "a", "b")
    val r = f.select(
      VectorExpressions.dot(col("a"), col("b")).as("ff"),
      VectorExpressions.dot(col("a").cast("array<double>"),
        col("b").cast("array<double>")).as("dd"),
      VectorExpressions.dot(col("a"), col("b").cast("array<double>")).as("fd"))
      .head()
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ===
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
  }

  test("unicodeNormalize: interpreted eval matches codegen") {
    // force the interpreted path with codegen disabled and compare
    val dec = Seq((1L, "é Ｄx")).toDF("id", "t")
    def run(): (String, String) = {
      val r = dec.select(
        VectorExpressions.unicodeNormalize(col("t"), "NFC"),
        VectorExpressions.unicodeNormalize(col("t"), "NFKC")).head()
      (r.getString(0), r.getString(1))
    }
    val withCodegen = run()
    val conf = spark.conf
    val prev = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() === withCodegen)
    finally conf.set("spark.sql.codegen.factoryMode", prev)
    assert(withCodegen === (("é Ｄx", "é Dx")))
  }

  test("positionalNgramMd5: fused positions+digests equal the HOF chain") {
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "\u00e9l\u00e8ve", "x", "longer-token",
      "\u6771\u4eac", "z9", null)
    val docs = (0 until 60).map { i =>
      // lengths 0..11 straddle every n: size < n must emit NO windows
      (i.toLong, Array.fill(rnd.nextInt(12))(words(rnd.nextInt(words.size))))
    }.toDF("id", "_t")
    for (n <- Seq(1, 3, 5)) {
      val fused = docs.select(col("id"),
        VectorExpressions.positionalNgramMd5(col("_t"), n).as("o"))
      val starts = when(size(col("_t")) >= n,
        sequence(lit(1), size(col("_t")) - (n - 1)))
        .otherwise(array().cast("array<int>"))
      val hof = docs.select(col("id"),
        transform(starts, i => struct(i.as("pos"),
          unhex(md5(concat_ws(" ", slice(col("_t"), i, lit(n))))).as("g"))).as("o"))
      val f = fused.collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getInt(0), x.getAs[Array[Byte]](1).toSeq))).toMap
      val h = hof.collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getInt(0), x.getAs[Array[Byte]](1).toSeq))).toMap
      assert(f == h, s"n=$n")
    }
  }
}
