package graft.ops

import graft.{SparkSpec, TestSpark}
import graft.ops.ScalarQuantization._
import org.apache.spark.sql.functions._

class SqSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet(s"${TestSpark.sf0001}/embeddings.parquet")

  private def queryVec(id: Long): Array[Float] =
    emb.filter(col("vec_id") === id).select("embedding")
      .head().getSeq[Float](0).toArray

  test("reconstruction error is bounded by step/2 per dimension") {
    val model = ScalarQuantization.sqTrain(emb, "embedding")
    val rows = SimilaritySearch.encode(emb, "embedding", model)
      .select("embedding", "sq_code").collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      val code = r.getAs[Array[Byte]](1)
      v.indices.foreach { i =>
        val deq = model.mins(i) + (code(i) & 0xff) * model.steps(i)
        math.abs(deq - v(i)) should be <= (model.steps(i) / 2 + 1e-6f)
      }
    }
  }

  test("grid covers the corpus: extremes encode to the grid edges losslessly") {
    import spark.implicits._
    // train IS the full pass, so min/max land exactly on codes 0/255
    val df = Seq((1L, Seq(-3f, 10f)), (2L, Seq(5f, -2f)), (3L, Seq(1f, 4f)))
      .toDF("id", "v")
      .select($"id", $"v".cast("array<float>").as("v"))
    val model = ScalarQuantization.sqTrain(df, "v")
    model.mins.toSeq shouldBe Seq(-3f, -2f)
    val codes = SimilaritySearch.encode(df, "v", model)
      .select("id", "sq_code")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    (codes(1L)(0) & 0xff) shouldBe 0     // min of dim 0
    (codes(2L)(0) & 0xff) shouldBe 255   // max of dim 0
    (codes(1L)(1) & 0xff) shouldBe 255   // max of dim 1
    (codes(2L)(1) & 0xff) shouldBe 0     // min of dim 1
  }

  test("constant dimension (step 0) is lossless and never divides by zero") {
    import spark.implicits._
    val df = Seq((1L, Seq(7f, 1f)), (2L, Seq(7f, 2f)), (3L, Seq(7f, 3f)))
      .toDF("id", "v").select($"id", $"v".cast("array<float>").as("v"))
    val model = ScalarQuantization.sqTrain(df, "v")
    model.steps(0) shouldBe 0f
    val encoded = SimilaritySearch.encode(df, "v", model)
      .select("id", "sq_code")
    encoded.collect().foreach { r =>
      val code = r.getAs[Array[Byte]](1)
      (code(0) & 0xff) shouldBe 0
      model.mins(0) + (code(0) & 0xff) * model.steps(0) shouldBe 7f
    }
  }

  test("ADC score equals the dot against the dequantized vector (eval + codegen)") {
    val model = ScalarQuantization.sqTrain(emb, "embedding")
    val qv = queryVec(0L)
    val (scaled, bias) = model.queryFactors(qv)
    val rows = SimilaritySearch.encode(emb, "embedding", model)
      // the wide projection keeps the expression inside whole-stage codegen
      .withColumn("adc", graft.expressions.VectorExpressions
        .sqAdcDot(col("sq_code"), scaled, bias))
      .select("sq_code", "adc").collect()
    rows.foreach { r =>
      val code = r.getAs[Array[Byte]](0)
      // driver-side recomputation through the interpreted path
      val expected = graft.expressions.SqAdcDot.score(code, scaled, bias)
      r.getDouble(1) shouldBe expected
      // and against the explicit dequantize-then-dot definition
      val deq = code.indices.map(i =>
        (model.mins(i) + (code(i) & 0xff) * model.steps(i)).toDouble)
      val dot = deq.zip(qv).map { case (a, b) => a * b }.sum
      r.getDouble(1) shouldBe dot +- 1e-6
    }
  }

  test("two-stage SQ search equals exact top-k at refine=2 on the fixture") {
    val model = ScalarQuantization.sqTrain(emb, "embedding")
    val encoded = SimilaritySearch.encode(emb, "embedding", model)
      .select(col("vec_id"), col("sq_code"))   // codes only — no vectors
    for (qid <- Seq(0L, 7L, 101L)) {
      val qv = queryVec(qid)
      val exact = SimilaritySearch.topK(emb, "vec_id", "embedding", qv, 10)
        .collect().map(r => (r.getAs[Long]("vec_id"),
          r.getAs[Double]("score")))
      val sq = SimilaritySearch.quantizedSearch(encoded, model, "vec_id", qv,
          k = 10, refine = 2, exactSource = Some((emb, "embedding")))
        .select("vec_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      sq.toSeq shouldBe exact.toSeq
    }
  }

  test("ADC-only ranking is itself near-exact: recall@10 >= 0.9") {
    // SQ8's point on the curve: unlike PQ's 0.2-floor, the byte grid keeps
    // the ranking — this is why refine=2 suffices where PQ needs 16
    val model = ScalarQuantization.sqTrain(emb, "embedding")
    val encoded = SimilaritySearch.encode(emb, "embedding", model)
      .select(col("vec_id"), col("sq_code"))
    for (qid <- Seq(0L, 7L, 101L)) {
      val qv = queryVec(qid)
      val exact = SimilaritySearch.topK(emb, "vec_id", "embedding", qv, 10)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      val adcOnly = SimilaritySearch.quantizedSearch(encoded, model, "vec_id",
          qv, k = 10).collect().map(_.getAs[Long]("vec_id")).toSet
      (exact.count(adcOnly.contains) / 10.0) should be >= 0.9
    }
  }

  test("IVF-SQ: full probe + refine=2 equals exact; pruned probe stays " +
      "inside the probed cells") {
    val (indexed, cents) = SimilaritySearch.ivfBuildKMeans(emb, "vec_id",
      "embedding", nCells = 4)
    val model = ScalarQuantization.sqTrain(emb, "embedding")
    val encoded = SimilaritySearch.encode(indexed, "embedding", model)
      .select(col("vec_id"), col("cell"), col("sq_code"))
    for (qid <- Seq(0L, 7L, 101L)) {
      val qv = queryVec(qid)
      val exact = SimilaritySearch.topK(emb, "vec_id", "embedding", qv, 10)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
      val full = SimilaritySearch.ivfQuantizedSearch(encoded, cents, model,
          "vec_id", qv, k = 10, nProbe = 4,
          exactSource = Some((emb, "embedding")))
        .select("vec_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      full.toSeq shouldBe exact.toSeq
    }
    // pruned probe: every hit must come from the single probed cell
    val qv = queryVec(0L)
    val probeCell = cents.indices.maxBy(i =>
      graft.functions.VectorFunctions.dot(qv, cents(i)))
    val cellIds = encoded.filter(col("cell") === probeCell)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pruned = SimilaritySearch.ivfQuantizedSearch(encoded, cents, model,
        "vec_id", qv, k = 10, nProbe = 1,
        exactSource = Some((emb, "embedding")))
      .select("vec_id").collect().map(_.getLong(0))
    pruned.foreach(id => cellIds should contain(id))
  }

  test("index handle: searchIvfSq needs both layouts and equals search at " +
      "full probe, surviving save/load") {
    val dir = java.nio.file.Files.createTempDirectory("sq-ivf-idx").toString
    val idx = graft.index.VectorIndex
      .build(emb, "sq-ivf-spec", "vec_id", "embedding")
    val qv = queryVec(7L)
    an[IllegalStateException] should be thrownBy idx.searchIvfQuantized(qv)
    idx.buildIvf(nCells = 4)
    an[IllegalStateException] should be thrownBy idx.searchIvfQuantized(qv)
    idx.buildSq().save(dir)
    val re = graft.index.VectorIndex.load(spark, dir, "sq-ivf-spec-re",
      "vec_id", "embedding")
    val exact = idx.search(qv, k = 5).select("vec_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val got = re.searchIvfQuantized(qv, k = 5, nProbe = 4)
      .select("vec_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    got.toSeq shouldBe exact.toSeq
  }

  test("dimension mismatches fail loudly, not with a truncated score") {
    val model = SqModel(Array(0f, 0f), Array(0.1f, 0.1f))
    an[IllegalArgumentException] should be thrownBy
      model.queryFactors(Array(1f, 2f, 3f))
    an[IllegalArgumentException] should be thrownBy
      graft.expressions.SqAdcDot.score(Array[Byte](1, 2, 3),
        Array(0.5, 0.5), 0.0)
  }
}
