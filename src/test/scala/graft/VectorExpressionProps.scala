package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

/** Properties closing the `vec_dot` strict-semantics class
  * (VectorExpressionSpec pins the cases; these pin the LAW): on
  * arbitrary float arrays — including null elements, null arrays, and
  * length mismatches — the codegen'd expression must agree BIT-FOR-BIT
  * with the interpreted `aggregate(zip_with(a, b, (x,y) -> x*y), 0D,
  * (acc,v) -> acc+v)` formulation it replaces (null pad / null element
  * poisons the sum to NULL; the double cast inside the lambda mirrors
  * vec_dot's upcast-then-multiply order), and the expression's
  * interpreted eval must agree with a plain-Scala strict model.
  */
object VectorExpressionProps extends Properties("VecDot") {

  // each case runs Spark jobs — keep the case count modest
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val elemGen: Gen[java.lang.Float] = Gen.frequency(
    12 -> Gen.chooseNum(-100f, 100f).map(java.lang.Float.valueOf),
    // exact binary fractions and whole floats hit the no-rounding paths
    4 -> Gen.chooseNum(-8, 8).map(n => java.lang.Float.valueOf(n * 0.25f)),
    1 -> Gen.const(null: java.lang.Float))

  private def arrGen(n: Int): Gen[Seq[java.lang.Float]] =
    Gen.listOfN(n, elemGen)

  /** Pairs: mostly equal-length, plus mismatched lengths and null
    * arrays — every branch of the strict contract.
    */
  private val pairGen: Gen[(Seq[java.lang.Float], Seq[java.lang.Float])] =
    Gen.frequency(
      6 -> Gen.choose(0, 6).flatMap(n => Gen.zip(arrGen(n), arrGen(n))),
      2 -> (for {
        n <- Gen.choose(0, 5); m <- Gen.choose(0, 5).suchThat(_ != n)
        a <- arrGen(n); b <- arrGen(m)
      } yield (a, b)),
      1 -> Gen.choose(0, 4).flatMap(n =>
        arrGen(n).map(a => (null: Seq[java.lang.Float], a))),
      1 -> Gen.choose(0, 4).flatMap(n =>
        arrGen(n).map(a => (a, null: Seq[java.lang.Float]))))

  private def sameBits(x: Any, y: Any): Boolean = (x, y) match {
    case (null, null) => true
    case (a: java.lang.Double, b: java.lang.Double) =>
      java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)
    case _ => false
  }

  property("codegen'd vec_dot is bit-identical to the interpreted " +
      "aggregate(zip_with) formulation") = Prop.forAll(
    Gen.listOfN(8, pairGen)) { pairs =>
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val rows = pairs.zipWithIndex.map { case ((a, b), i) =>
      org.apache.spark.sql.Row(i, a, b) }
    val got = CodegenFrames.collect(CodegenFrames.frame(rows, schema)
      .select(col("id"),
        org.apache.spark.sql.graft.VectorColumns.vecDot(col("a"), col("b"))
          .as("fast"),
        expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * " +
          "CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
          .as("ref")))
    got.length == pairs.length && got.forall(r => sameBits(r.get(1), r.get(2)))
  }

  property("interpreted eval agrees with a plain-Scala strict model") =
    Prop.forAll(pairGen) { case (a, b) =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types._
      val t = ArrayType(FloatType, containsNull = true)
      val e = org.apache.spark.sql.graft.DotProductD(
        Literal.create(a, t), Literal.create(b, t))
      val model: Any =
        if (a == null || b == null || a.length != b.length ||
            a.contains(null) || b.contains(null)) null
        else java.lang.Double.valueOf(
          a.zip(b).foldLeft(0.0)((acc, p) =>
            acc + p._1.doubleValue * p._2.doubleValue))
      sameBits(e.eval(null), model)
    }

  // ---- SignBandCodes ---------------------------------------------------

  /** The band coding SignBandCodes replaced, verbatim: one guarded
    * `CASE WHEN emb[i] >= 0` arm per bit — the kernel's contract is
    * equality with THIS under Spark's compare (null element → 0, NaN
    * and -0.0 → 1) and a raise naming `api` on a short embedding.
    */
  private def guardedBandCode(api: String, emb: String, b: Int,
      bands: Int, bits: Int): String = {
    val code = (0 until bits)
      .map(j => s"CASE WHEN $emb[${bits * b + j}] >= 0 THEN ${1 << j} ELSE 0 END")
      .mkString(" + ")
    s"""IF(size($emb) >= ${bits * (b + 1)}, $code,
       |  raise_error(concat('$api: bands*bits = ${bands * bits} exceeds the ',
       |    'embedding dimension ', size($emb),
       |    ' -- lower bands or bits so bands*bits <= dim')))""".stripMargin
  }

  private val bandApi = "bandSpec"

  import org.apache.spark.sql.types._

  /** Embedding elements dense in the compare's edge cases. */
  private val bandElem: Gen[java.lang.Double] = Gen.frequency(
    6 -> Gen.chooseNum(-4.0, 4.0).map(java.lang.Double.valueOf),
    2 -> Gen.const(java.lang.Double.valueOf(0.0)),
    2 -> Gen.const(java.lang.Double.valueOf(-0.0)),
    2 -> Gen.const(java.lang.Double.valueOf(Double.NaN)),
    1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity)
      .map(java.lang.Double.valueOf),
    2 -> Gen.const(null: java.lang.Double))

  /** One case: element type, knobs, embeddings of at least bands·bits
    * entries, and maybe one short or null embedding that must raise.
    */
  private case class BandCase(isFloat: Boolean, bands: Int, bits: Int,
      good: Seq[Seq[java.lang.Double]], bad: Option[Seq[java.lang.Double]]) {
    val need: Int = bands * bits
    val arrType: ArrayType =
      ArrayType(if (isFloat) FloatType else DoubleType, containsNull = true)
    /** As the column's external type: float columns hold Floats. */
    def external(a: Seq[java.lang.Double]): Seq[Any] =
      if (a == null) null
      else if (isFloat) a.map(v => if (v == null) null else java.lang.Float.valueOf(v.floatValue))
      else a
  }

  private val bandCaseGen: Gen[BandCase] = for {
    isFloat <- Gen.oneOf(true, false)
    bands <- Gen.choose(1, 4)
    bits <- Gen.choose(1, 8)
    good <- Gen.listOfN(6, Gen.choose(0, 2).flatMap(extra =>
      Gen.listOfN(bands * bits + extra, bandElem)))
    bad <- Gen.frequency(
      2 -> Gen.const(None),
      1 -> Gen.const(Some(null: Seq[java.lang.Double])),
      1 -> Gen.choose(0, bands * bits - 1).flatMap(n =>
        Gen.listOfN(n, bandElem).map(Some(_))))
  } yield BandCase(isFloat, bands, bits, good, bad)

  /** Rows (id, e) as an RDD-backed frame ([[CodegenFrames.frame]]). */
  private def bandFrame(c: BandCase, rows: Seq[Seq[java.lang.Double]]) =
    CodegenFrames.frame(rows.zipWithIndex.map { case (a, i) =>
        org.apache.spark.sql.Row(i, c.external(a)) },
      StructType(Seq(StructField("id", IntegerType, nullable = false),
        StructField("e", c.arrType))))

  private def reference(c: BandCase): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.array((0 until c.bands).map(b =>
      org.apache.spark.sql.functions.expr(
        guardedBandCode(bandApi, "e", b, c.bands, c.bits))): _*)

  private def kernel(c: BandCase): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.VectorColumns.signBandCodes(
      org.apache.spark.sql.functions.col("e"),
      org.apache.spark.sql.functions.lit(c.bands),
      org.apache.spark.sql.functions.lit(c.bits), bandApi)

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .flatMap(x => Option(x.getMessage)).mkString("\n")

  /** Kernel and reference over the good rows: (id, reference, kernel). */
  private def bandRows(c: BandCase): Seq[(Int, Seq[Int], Seq[Int])] = {
    import org.apache.spark.sql.functions.col
    CodegenFrames.collect(bandFrame(c, c.good)
        .select(col("id"), reference(c).as("ref"), kernel(c).as("got")))
      .toSeq.map(r => (r.getInt(0), r.getSeq[Int](1), r.getSeq[Int](2)))
  }

  property("SignBandCodes codegen'd batch equals the guardedBandCode " +
      "text; a short or null embedding raises naming the api") =
    Prop.forAll(bandCaseGen) { c =>
      val goodOk = bandRows(c).forall { case (_, ref, got) => ref == got }
      val badOk = c.bad.forall { a =>
        def run(col: org.apache.spark.sql.Column): Option[Throwable] =
          try { bandFrame(c, Seq(a)).select(col).collect(); None }
          catch { case t: Throwable => Some(t) }
        val kernelMsg = run(kernel(c)).map(messages)
        run(reference(c)).isDefined && kernelMsg.exists(m =>
          m.contains(bandApi) && m.contains(s"bands*bits = ${c.need}"))
      }
      goodOk && badOk
    }

  property("SignBandCodes interpreted eval equals the guardedBandCode " +
      "text; a short or null embedding raises naming the api") =
    Prop.forAll(bandCaseGen) { c =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.util.ArrayData
      def eval(a: Seq[java.lang.Double]): Any =
        org.apache.spark.sql.graft.SignBandCodes(
          Literal.create(c.external(a), c.arrType), Literal(c.bands),
          Literal(c.bits), bandApi).eval(null)
      val goodOk = bandRows(c).forall { case (i, ref, _) =>
        eval(c.good(i)).asInstanceOf[ArrayData].toIntArray().toSeq == ref
      }
      val badOk = c.bad.forall { a =>
        try { eval(a); false }
        catch { case t: RuntimeException =>
          val m = messages(t)
          m.contains(bandApi) && m.contains(s"bands*bits = ${c.need}")
        }
      }
      goodOk && badOk
    }
}
