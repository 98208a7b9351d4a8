package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextHash._

/** The three native codegen'd expressions must be integer/IEEE
  * identical to their interpreted higher-order-function reference
  * implementations — on random inputs, not just the fixture corpus.
  * (The HOF forms are themselves oracle-checked against DuckDB, so
  * equivalence here transitively pins the natives to the oracle.)
  */
class NativeExprEquivalenceSpec extends SparkSpec {

  private val rnd = new Random(42)

  test("Simhash60 native == HOF fold on 300 random hash arrays") {
    import spark.implicits._
    val data = Seq.fill(300)(
      Seq.fill(1 + rnd.nextInt(80))(rnd.nextLong().abs % (1L << 60)))
    val df = data.toDF("hs")
      .select(Simhash60.simhash60Native(col("hs")).as("native"),
        simhash60(col("hs")).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("MinhashSig native == HOF signature on 300 random shingle sets") {
    import spark.implicits._
    val data = Seq.fill(300)(
      Seq.fill(rnd.nextInt(60))(rnd.nextLong().abs % Prime))
    val df = data.toDF("sh")
      .select(MinhashSig.minhashNative(col("sh"), 32).as("native"),
        minhashSignature(col("sh"), 32).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("SignSketch native == composed ddot-sign band keys, 300 vectors") {
    import spark.implicits._
    import graft.dedup.Dedup.{EmbedBandBits, EmbedBands, NPlanes}
    val planes = graft.dedup.Dedup.planeMatrix
    val data = Seq.fill(300)(Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    val bits = (0 until NPlanes).map { p =>
      when(VectorFunctions.ddot(col("v"), typedlit(planes(p))) >= 0d,
        lit(1L)).otherwise(lit(0L))
    }
    val composed = (0 until EmbedBands).map { b =>
      (0 until EmbedBandBits).map { j =>
        bits(b * EmbedBandBits + j) * (1L << (EmbedBandBits - 1 - j))
      }.reduce(_ + _)
    }
    val df = data.toDF("v")
      .select(SignSketch.signSketch(col("v"), planes, EmbedBandBits)
        .as("native"), array(composed: _*).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("DoubleDot native == interpreted fold, bit for bit, 300 pairs") {
    import spark.implicits._
    val data = Seq.fill(300)((
      Seq.fill(64)(rnd.nextDouble() * 2 - 1),
      Seq.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = data.toDF("a", "b")
      .select(VectorFunctions.ddot(col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0d), (acc, p) => acc + p).as("hof"))
    // Exact equality — same strict left-to-right fold.
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("DoubleDot null contract == HOF: unequal lengths and null elements") {
    import spark.implicits._
    val data: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (Seq(1.0, 2.0), Seq(3.0)),                       // unequal lengths
      (Seq(1.0), Seq(3.0, 4.0)),                       // unequal, other side
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)), // null element left
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](null, 4.0)), // null element right
      (Seq.empty[java.lang.Double], Seq.empty[java.lang.Double]), // both empty → 0.0
      (Seq[java.lang.Double](1.5, -2.0), Seq[java.lang.Double](0.5, 3.0))) // plain
    val df = data.toDF("a", "b")
      .select(VectorFunctions.ddot(col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0d), (acc, p) => acc + p).as("hof"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"null-bit mismatch: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1))
    }
    // The first four cases are null, the empty pair is exactly 0.0.
    assert(rows.take(4).forall(_.isNullAt(0)))
    assert(rows(4).getDouble(0) === 0.0)
  }

  test("DoubleSubDist native == interpreted fold, bit for bit, " +
    "plus the null contract") {
    import spark.implicits._
    val data = Seq.fill(300)((
      Seq.fill(8)(rnd.nextDouble() * 2 - 1),
      Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
    val df = data.toDF("a", "b")
      .select(VectorFunctions.dsubdist(col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"),
          (x, y) => (x - y) * (x - y)),
          lit(0.0d), (acc, d) => acc + d).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
    val edge: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (Seq(1.0, 2.0), Seq(3.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (Seq.empty[java.lang.Double], Seq.empty[java.lang.Double]))
    val er = edge.toDF("a", "b")
      .select(VectorFunctions.dsubdist(col("a"), col("b")).as("n"))
      .collect()
    assert(er(0).isNullAt(0) && er(1).isNullAt(0))
    assert(er(2).getDouble(0) === 0.0)
  }

  test("LongDot native == interpreted fold, plus the null contract") {
    import spark.implicits._
    val data = Seq.fill(300)((
      Seq.fill(64)((rnd.nextInt(401) - 200).toLong),
      Seq.fill(64)((rnd.nextInt(401) - 200).toLong)))
    val df = data.toDF("a", "b")
      .select(LongDot.ldot(col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0L), (acc, p) => acc + p).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
    val edge: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
      (Seq(1L, 2L), Seq(3L)),                          // unequal lengths
      (Seq[java.lang.Long](1L, null), Seq[java.lang.Long](3L, 4L)),
      (Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]))
    val er = edge.toDF("a", "b")
      .select(LongDot.ldot(col("a"), col("b")).as("n")).collect()
    assert(er(0).isNullAt(0) && er(1).isNullAt(0))
    assert(er(2).getLong(0) === 0L)
  }

  test("RewriteDotProduct rewrites the long HOF fold to LongDot") {
    import spark.implicits._
    // localCheckpoint keeps the input non-foldable — over a literal
    // LocalRelation the whole projection constant-folds away before
    // the rewrite could be observed.
    val df = Seq((Seq(1L, 2L), Seq(3L, 4L))).toDF("a", "b")
      .localCheckpoint()
      .select(aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, p) => acc + p).as("dot"))
    assert(df.queryExecution.optimizedPlan.toString
      .contains("graft_ldot"))
    assert(df.collect().head.getLong(0) === 11L)
  }

  test("RungBandSketch native == the three-deep HOF fold it replaced, " +
    "rungs across both frozen-stride segments") {
    import spark.implicits._
    import graft.sim.RagRetrieve.{Dim, MaxBits, NBands, Planes, Seg0}
    val planesLit: org.apache.spark.sql.Column =
      typedlit(Planes.map(_.toSeq).toSeq)
    def hofPlaneIdx(b: org.apache.spark.sql.Column,
        r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(r < Seg0, b * Seg0 + r)
        .otherwise(lit(NBands * Seg0) + b * (MaxBits - Seg0) + (r - Seg0))
    def hofBands(rung: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      transform(sequence(lit(0), lit(NBands - 1)), b =>
        aggregate(sequence(lit(0), (rung - 1).cast("int")), lit(0L),
          (acc, r) => {
            val proj = aggregate(
              zip_with(col("v"),
                element_at(planesLit, (hofPlaneIdx(b, r) + 1).cast("int")),
                (x, w) => x * w),
              lit(0L), (a, y) => a + y)
            acc * 2 + when(proj > 0, 1L).otherwise(0L)
          }))
    // Sparse signed-count vectors like the real embeddings (many
    // zeros force proj = 0 edges at the strict > 0 bit test).
    val data = Seq.fill(200)(Seq.fill(Dim)(
      if (rnd.nextInt(4) == 0) (rnd.nextInt(9) - 4).toLong else 0L))
    for (rung <- Seq(4, 8, Seg0, Seg0 + 1, MaxBits)) {
      val df = data.toDF("v")
        .select(graft.functions.RungBandSketch
          .rungBandSketch(col("v"), lit(rung), Planes, NBands, Seg0,
            MaxBits).as("native"),
          hofBands(lit(rung)).as("hof"))
      assert(df.filter(col("native") =!= col("hof")).count() === 0,
        s"band keys diverge at rung $rung")
    }
    // Loud-failure discipline: a rung outside [1, MaxBits] throws.
    intercept[Exception] {
      data.take(1).toDF("v")
        .select(graft.functions.RungBandSketch.rungBandSketch(
          col("v"), lit(0), Planes, NBands, Seg0, MaxBits)).collect()
    }
  }

  test("Qlog2 native == the generated HOF fold on random and edge longs") {
    import spark.implicits._
    import graft.text.QualityClassifier.qlog2Hof
    val edges = Seq(0L, 1L, 2L, 3L, 255L, 256L, 257L, 65535L, 65536L,
      (1L << 31) - 1, 1L << 31, (1L << 31) + 1, Long.MaxValue,
      Long.MaxValue - 1)
    val data = (edges ++ Seq.fill(300)(rnd.nextLong().abs) ++
      (0 to 62).map(1L << _)).map(Tuple1(_))
    val df = data.toDF("c").localCheckpoint()
      .select(graft.functions.Qlog2.qlog2Native("c").as("native"),
        qlog2Hof("c").as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("AdcEst native == the interpreted lookup fold, bit for bit") {
    import spark.implicits._
    import graft.sim.VectorSearch.{PqCodes, PqM}
    val data = Seq.fill(300)((
      Seq.fill(PqM * PqCodes)(rnd.nextDouble() * 4),
      Seq.fill(PqM)(rnd.nextInt(PqCodes))))
    val df = data.toDF("dt", "codes").localCheckpoint()
      .select(graft.functions.AdcEst
        .adcEst(col("dt"), col("codes"), PqM, PqCodes).as("native"),
        graft.sim.VectorSearch.adcEstHof.as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
    // Loud-failure discipline: an out-of-range code must throw.
    intercept[Exception] {
      Seq((Seq.fill(PqM * PqCodes)(0.0), Seq.fill(PqM)(PqCodes)))
        .toDF("dt", "codes").localCheckpoint()
        .select(graft.functions.AdcEst
          .adcEst(col("dt"), col("codes"), PqM, PqCodes)).collect()
    }
  }

  test("RewriteDotProduct rewrites the plain double sum to DoubleSum") {
    import spark.implicits._
    val data: Seq[Tuple1[Seq[java.lang.Double]]] =
      Seq.fill(100)(Tuple1(Seq.fill(rnd.nextInt(20))(
        java.lang.Double.valueOf(rnd.nextDouble() * 2 - 1)))) ++
        Seq(Tuple1(Seq[java.lang.Double](1.0, null, 2.0)),
          Tuple1(Seq.empty[java.lang.Double]))
    val src = data.toDF("xs").localCheckpoint()
    // The identity-finish HOF column is itself rewritten by the rule
    // (that is the assertion); the ×1.0-finish twin does NOT match
    // the conservative pattern, so it stays the interpreted
    // reference fold (×1.0 is the IEEE identity on every double,
    // including −0.0 and NaN).
    val df = src
      .select(graft.functions.DoubleSum.dsum(col("xs")).as("native"),
        aggregate(col("xs"), lit(0.0d), (acc, x) => acc + x)
          .as("rewritten"),
        aggregate(col("xs"), lit(0.0d), (acc, x) => acc + x,
          acc => acc * lit(1.0d)).as("hof"))
    assert(df.queryExecution.optimizedPlan.toString
      .contains("graft_dsum"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(2), s"null-bit mismatch: $r")
      if (!r.isNullAt(0)) {
        assert(r.getDouble(0) === r.getDouble(2))
        assert(r.getDouble(0) === r.getDouble(1))
      }
    }
  }

  test("ArgPickAgg == max/min(struct) selection, including exact " +
    "score ties (tie to the smallest id)") {
    import graft.functions.ArgPickAgg.{argMaxId, argMinId}
    import spark.implicits._
    // Quantized scores force real ties across ids within a key.
    val rows = Seq.tabulate(5000) { i =>
      (i % 37L, math.floor(rnd.nextDouble() * 8) / 8.0, i.toLong)
    }
    val df = rows.toDF("k", "s", "id").localCheckpoint()
    val got = df.groupBy("k")
      .agg(argMaxId(col("s"), col("id")).as("amax"),
        argMinId(col("s"), col("id")).as("amin"))
    val want = df.groupBy("k")
      .agg(max(struct(col("s"), (-col("id")).as("nid"))).as("bx"),
        min(struct(col("s"), col("id"))).as("bn"))
      .select(col("k"), (-col("bx.nid")).as("wmax"),
        col("bn.id").as("wmin"))
    assert(got.join(want, "k")
      .filter(col("amax") =!= col("wmax") ||
        col("amin") =!= col("wmin")).count() === 0)
  }

  test("VecScatterSumAgg == the two-shuffle groupBy + dense " +
    "re-expansion it replaced") {
    import graft.functions.VecScatterSumAgg.vecScatterAgg
    import spark.implicits._
    val dim = 16
    val rows = Seq.fill(4000)(
      (rnd.nextInt(50).toLong, rnd.nextInt(dim),
        (rnd.nextInt(5) - 2).toLong))
    val df = rows.toDF("k", "d", "w").localCheckpoint()
    val got = df.groupBy("k")
      .agg(vecScatterAgg(col("d"), col("w"), dim).as("v"))
    val want = df.groupBy("k", "d").agg(sum("w").as("s"))
      .groupBy("k")
      .agg(map_from_entries(collect_list(struct(col("d"), col("s"))))
        .as("m"))
      .select(col("k"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i.cast("int")), lit(0L)))
          .as("w2"))
    assert(got.join(want, "k")
      .filter(col("v") =!= col("w2")).count() === 0)
    // Loud-failure discipline: an out-of-range index must throw.
    intercept[Exception] {
      Seq((1L, dim, 1L)).toDF("k", "d", "w").groupBy("k")
        .agg(vecScatterAgg(col("d"), col("w"), dim)).collect()
    }
  }

  test("engine results are invariant to shuffle partition count") {
    val a = graft.text.TextAnalysis.fingerprint(spark, sf).collect().toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = graft.text.TextAnalysis.fingerprint(spark, sf).collect().toSeq
      assert(a.map(_.toSeq) === b.map(_.toSeq))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("wordcount counts sum to the total token count") {
    import spark.implicits._
    val docs = graft.Tables(spark, sf, "documents")
    val total = docs.select(explode(regexp_extract_all(
      col("text"), lit(graft.text.WordCount.WordRegex), lit(0))))
      .count()
    val summed = graft.text.WordCount(docs, "text")
      .agg(sum("cnt")).as[Long].head()
    assert(summed === total)
  }
}
