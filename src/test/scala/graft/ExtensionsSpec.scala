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

  /** Runs `e` over `rows` both ways: interpreted `eval` and a generated
    * projection. A kernel error surfaces as Left(message). */
  private def bothPaths(e: org.apache.spark.sql.catalyst.expressions.Expression,
                        rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : Seq[(String, Long => Either[String, Any])] = {
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    def out(x: Any): Any = x match {
      case a: ArrayData => a.toIntArray().toSeq
      case o => o
    }
    def attempt(f: => Any): Either[String, Any] =
      try Right(out(f)) catch { case t: ArithmeticException => Left(t.getMessage) }
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    Seq(
      "interpreted" -> (id => attempt(e.eval(byId(id)))),
      "codegen" -> (id => attempt {
        val p = proj(byId(id))
        if (p.isNullAt(0)) null else if (e.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
          p.getArray(0) else p.getInt(0)
      }))
  }

  test("nearest_centroid ≡ the max_by / array_sort+slice / min_by it replaces, " +
    "codegen and interpreted: random codebook, exact ties, duplicates, NaN") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.functions._
    import graft.expressions.NearestCentroid
    import graft.expressions.NearestCentroid._
    import graft.ops.Similarity.{dot, l2Norm, l2sq}
    import spark.implicits._
    val dim = 8
    val rng = new scala.util.Random(17)
    def rnd(): Array[Float] = Array.fill(dim)(rng.nextFloat() - 0.5f)
    val base = Seq.fill(10)(rnd())
    // exact ties: 2·c scores c's cosine to the bit; a duplicate ties both
    // metrics. cids fall with entry order, so a tie resolved by position
    // instead of by the lower cid shows
    val cents = (base ++ Seq(base(3).map(_ * 2f), base(5), base(5))).zipWithIndex
      .map { case (c, i) => (100 - 7 * i, c) }.toDF("cid", "c")
    val vecs = (Seq.fill(30)(rnd()) ++ Seq(base(5), base(3), Array.fill(dim)(Float.NaN),
        base(1).updated(2, Float.NaN))).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
    // the kernel's input rows: (vec_id, v, codebook row)
    def rows(vs: DataFrame, cb: DataFrame) = {
      val df = vs.crossJoin(cb.agg(collect_list(
        struct(col("cid"), col("c"), l2Norm(col("c")).as("cn"))).as("cents")))
        .select("vec_id", "v", "cents")
      (df.schema, df.queryExecution.toRdd.map(_.copy()).collect().toSeq)
    }
    def check(what: String, vs: DataFrame, cb: DataFrame, ref: DataFrame,
              mk: (BoundReference, BoundReference) => NearestCentroid): Unit = {
      val want = ref.collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.get(1) match {
          case s: scala.collection.Seq[_] => s.toSeq
          case o => o
        })
      }.toMap
      val (schema, in) = rows(vs, cb)
      val e = mk(BoundReference(1, schema(1).dataType, true),
        BoundReference(2, schema(2).dataType, true))
      bothPaths(e, in).foreach { case (path, run) =>
        want.foreach { case (id, w) =>
          assert(run(id) === Right(w), s"$what, $path path, vec_id=$id")
        }
      }
    }
    val scored = vecs.crossJoin(cents)
      .withColumn("score", dot(col("v"), col("c")) / (l2Norm(col("v")) * l2Norm(col("c"))))
    check("assignment", vecs, cents,
      scored.groupBy("vec_id").agg(max_by(col("cid"), struct(col("score"), -col("cid")))),
      NearestCentroid(_, _, Cosine, MaxScore))
    Seq(1, 4, 20).foreach { n =>
      check(s"probe list n=$n", vecs, cents,
        scored.groupBy("vec_id").agg(slice(array_sort(collect_list(
          struct((-col("score")).as("ns"), col("cid")))), 1, n)("cid")),
        NearestCentroid(_, _, Cosine, AscNegScore, n))
    }
    // PQ: the [off, off+len) slice against a len-dim codebook
    val (off, len) = (4, 4)
    val sub = cents.select(col("cid"), slice(col("c"), off + 1, len).as("c"))
    check("pq code", vecs, sub,
      vecs.crossJoin(sub).withColumn("d2", l2sq(slice(col("v"), off + 1, len), col("c")))
        .groupBy("vec_id").agg(min_by(col("cid"), struct(col("d2"), col("cid")))),
      NearestCentroid(_, _, L2, MinDist, off = off, len = len))
  }

  test("nearest_centroid on a zero vector: DIVIDE_BY_ZERO under ANSI, NULL scores without") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.functions._
    import graft.expressions.NearestCentroid
    import graft.expressions.NearestCentroid._
    import graft.ops.Similarity.{dot, l2Norm}
    import spark.implicits._
    val cents = Seq((9, Array(1f, 0f)), (4, Array(0f, 1f)), (7, Array(-1f, -1f))).toDF("cid", "c")
    val zero = Seq((0L, Array(0f, 0f))).toDF("vec_id", "v")
    val df = zero.crossJoin(cents.agg(collect_list(
        struct(col("cid"), col("c"), l2Norm(col("c")).as("cn"))).as("cents")))
      .select("vec_id", "v", "cents")
    val in = df.queryExecution.toRdd.map(_.copy()).collect().toSeq
    def kernel(order: Order, n: Int, ansi: Boolean) = NearestCentroid(
      BoundReference(1, df.schema(1).dataType, true),
      BoundReference(2, df.schema(2).dataType, true), Cosine, order, n, failOnError = ansi)
    // built per mode: a division fixes its ANSI behavior when constructed
    def scored = zero.crossJoin(cents)
      .withColumn("score", dot(col("v"), col("c")) / (l2Norm(col("v")) * l2Norm(col("c"))))
    def assign = scored.groupBy("vec_id").agg(max_by(col("cid"), struct(col("score"), -col("cid"))))
    def probe = scored.groupBy("vec_id").agg(slice(array_sort(collect_list(
      struct((-col("score")).as("ns"), col("cid")))), 1, 2)("cid"))
    // ANSI (the session default): the replaced division raises, so does the kernel
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    assert(intercept[Exception](assign.collect()).getMessage.contains("DIVIDE_BY_ZERO"))
    Seq(kernel(MaxScore, 0, ansi = true), kernel(AscNegScore, 2, ansi = true)).foreach { e =>
      bothPaths(e, in).foreach { case (path, run) =>
        val got = run(0L)
        assert(got.fold(_.contains("DIVIDE_BY_ZERO"), _ => false), s"$path: $got")
      }
    }
    // legacy division: every score is NULL, so the lower cids win
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      assert(assign.collect()(0).getInt(1) === 4)
      assert(probe.collect()(0).getSeq[Int](1) === Seq(4, 7))
      bothPaths(kernel(MaxScore, 0, ansi = false), in).foreach { case (path, run) =>
        assert(run(0L) === Right(4), path)
      }
      bothPaths(kernel(AscNegScore, 2, ansi = false), in).foreach { case (path, run) =>
        assert(run(0L) === Right(Seq(4, 7)), path)
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("nearest_centroid type-checks its inputs, naming the kernel") {
    import org.apache.spark.sql.{Column, GraftSqlBridge}
    import org.apache.spark.sql.functions._
    import graft.expressions.NearestCentroid
    import graft.expressions.NearestCentroid._
    import spark.implicits._
    val df = Seq((Array(1, 2), Array(1f, 2f))).toDF("ints", "fl")
    def k(v: Column, cb: Column, metric: Metric) = GraftSqlBridge.column(NearestCentroid(
      GraftSqlBridge.expression(v), GraftSqlBridge.expression(cb), metric, MinDist))
    val withCn = array(struct(lit(1).as("cid"), col("fl").as("c"), lit(1.0).as("cn")))
    val noCn = array(struct(lit(1).as("cid"), col("fl").as("c")))
    Seq(
      k(col("ints"), withCn, Cosine) -> ("NearestCentroid requires (array<float>, " +
        "array<struct<cid: int, c: array<float>, cn: double>>) inputs, got array<int>"),
      k(col("fl"), noCn, Cosine) -> ("cn: double>>) inputs, got array<float> and " +
        "array<struct<cid:int,c:array<float>>>"),
      k(col("fl"), col("fl"), L2) -> ("NearestCentroid requires (array<float>, " +
        "array<struct<cid: int, c: array<float>>>) inputs, got array<float> and array<float>")
    ).foreach { case (call, want) =>
      val e = intercept[Exception](df.select(call).collect())
      assert(e.getMessage.contains(want), e.getMessage)
    }
    // L2 does not read cn, so a (cid, c) codebook is enough
    assert(df.select(k(col("fl"), noCn, L2)).collect()(0).getInt(0) === 1)
  }
}
