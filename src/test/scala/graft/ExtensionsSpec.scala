package graft

/** The SQL surface of the native expressions via SparkSessionExtensions /
  * registry install.
  */
class ExtensionsSpec extends SparkTestBase {

  test("dot_f is callable from SQL and matches the known dot product") {
    GraftExtensions.install(spark)
    val got = spark.sql(
      "SELECT dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .collect()(0).getDouble(0)
    assert(got === 11.0)
  }

  test("shingles is callable from SQL with a literal width") {
    GraftExtensions.install(spark)
    val got = spark.sql("SELECT shingles(split('a b c d', ' '), 3) AS sh")
      .collect()(0).getSeq[String](0)
    assert(got === Seq("a b c", "b c d"))
  }

  test("l2_f matches the interpreted zip_with fold bit-for-bit on random floats") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.install(spark)
    val rng = new scala.util.Random(7)
    // adversarial floats: tiny/huge magnitudes exercise float-rounding of
    // the per-element square, which L2F must reproduce exactly
    val rows = Seq.fill(200)((
      Array.fill(64)((rng.nextFloat() - 0.5f) * math.pow(10, rng.nextInt(9) - 4).toFloat),
      Array.fill(64)((rng.nextFloat() - 0.5f) * math.pow(10, rng.nextInt(9) - 4).toFloat)))
    val df = rows.toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"), col("b").cast("array<float>").as("b"))
    val cmp = df.select(
      graft.ops.Similarity.l2sq(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), _ + _).as("slow"))
      .collect()
    cmp.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("dot_f / l2_f return NULL on ragged inputs — zip_with parity, both eval paths") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.install(spark)
    // the interpreted folds these kernels claim bit-for-bit parity with
    // yield NULL on length mismatch (zip_with null-pads, null poisons the
    // aggregate) — the r10 advisory: truncating instead silently returns a
    // partial distance to SQL users comparing ragged vectors
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f))).toDF("a", "b")
    val got = df.select( // codegen path (column inputs)
      graft.ops.Similarity.l2sq(col("a"), col("b")).as("l2"),
      expr("dot_f(a, b)").as("dot"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), _ + _).as("l2_slow"),
      aggregate(zip_with(col("a"), col("b"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), _ + _).as("dot_slow"))
      .collect()(0)
    (0 until 4).foreach(i => assert(got.isNullAt(i), s"col $i not null"))
    // interpreted path: literal inputs are constant-folded through eval
    val lit2 = spark.sql(
      "SELECT dot_f(array(CAST(1 AS FLOAT)), array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))) AS d, " +
        "l2_f(array(CAST(1 AS FLOAT)), array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))) AS l")
      .collect()(0)
    assert(lit2.isNullAt(0) && lit2.isNullAt(1))
    // equal-length values are unchanged by the ragged guard
    val same = spark.sql(
      "SELECT dot_f(array(CAST(3 AS FLOAT)), array(CAST(4 AS FLOAT))) AS d").collect()(0)
    assert(same.getDouble(0) === 12.0)
  }

  test("every vector kernel type-checks its SQL inputs, naming the kernel") {
    GraftExtensions.install(spark)
    // each call passes the wrong element type; the failure names the
    // kernel and the input types it requires
    Seq(
      "dot_f(array(1, 2), array(3, 4))" -> "DotF requires two array<float> inputs",
      "dot_fd(array(1, 2), array(3, 4))" -> "DotFD requires (array<float>, array<double>) inputs",
      "dot_l(array(1.0D), array(2.0D))" -> "DotL requires two array<bigint> inputs",
      "l2_f(array(1, 2), array(3, 4))" -> "L2F requires two array<float> inputs"
    ).foreach { case (call, want) =>
      val e = intercept[Exception](spark.sql(s"SELECT $call").collect())
      assert(e.getMessage.contains(want), s"$call: ${e.getMessage}")
    }
  }

  test("dot_fd matches the interpreted cast+zip_with fold bit-for-bit (LSH plane projection)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.install(spark)
    val rng = new scala.util.Random(11)
    val rows = Seq.fill(200)((
      Array.fill(64)((rng.nextFloat() - 0.5f) * math.pow(10, rng.nextInt(7) - 3).toFloat),
      Array.fill(64)(rng.nextDouble() - 0.5)))
    val df = rows.toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"), col("b").cast("array<double>").as("b"))
    val cmp = df.select(
      expr("dot_fd(a, b)").as("fast"),
      aggregate(zip_with(col("a").cast("array<double>"), col("b"), (x, y) => x * y),
        lit(0.0), _ + _).as("slow"))
      .collect()
    cmp.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    // ragged -> NULL (zip_with parity)
    val ragged = Seq((Array(1.0f), Array(1.0, 2.0))).toDF("a", "b")
      .select(expr("dot_fd(a, b)").as("d")).collect()(0)
    assert(ragged.isNullAt(0))
    // interpreted path: literal inputs are constant-folded through eval
    val lit2 = spark.sql(
      "SELECT dot_fd(array(CAST(1 AS FLOAT)), array(CAST(1 AS DOUBLE), CAST(2 AS DOUBLE))) AS r, " +
        "dot_fd(array(CAST(3 AS FLOAT), CAST(0.5 AS FLOAT)), array(0.25D, 4.0D)) AS d")
      .collect()(0)
    assert(lit2.isNullAt(0))
    assert(lit2.getDouble(1) === 2.75)
  }

  test("dot_l matches the interpreted zip_with fold exactly (int8 quantized dot)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.install(spark)
    val rng = new scala.util.Random(13)
    val rows = Seq.fill(200)((
      Array.fill(64)((rng.nextInt(255) - 127).toLong),
      Array.fill(64)((rng.nextInt(255) - 127).toLong)))
    val df = rows.toDF("a", "b")
    val cmp = df.select(
      expr("dot_l(a, b)").as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L), _ + _).as("slow"))
      .collect()
    cmp.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    val ragged = Seq((Array(1L), Array(1L, 2L))).toDF("a", "b")
      .select(expr("dot_l(a, b)").as("d")).collect()(0)
    assert(ragged.isNullAt(0))
    // interpreted path: literal inputs are constant-folded through eval
    val lit2 = spark.sql(
      "SELECT dot_l(array(1L), array(1L, 2L)) AS r, " +
        "dot_l(array(2L, -3L), array(4L, 5L)) AS d")
      .collect()(0)
    assert(lit2.isNullAt(0))
    assert(lit2.getLong(1) === -7L)
  }
}
