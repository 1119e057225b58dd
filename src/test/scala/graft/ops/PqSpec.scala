package graft.ops

import graft.{SparkSpec, TestSpark}
import graft.ops.SimilaritySearch._
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet(s"${TestSpark.sf0001}/embeddings.parquet")

  private def exactTopIds(qv: Array[Float], k: Int): Seq[Long] =
    SimilaritySearch.topK(emb, "vec_id", "embedding", qv, k)
      .collect().map(_.getAs[Long]("vec_id")).toSeq

  private def queryVec(id: Long): Array[Float] =
    emb.filter(col("vec_id") === id).select("embedding")
      .head().getSeq[Float](0).toArray

  test("lossless grid: vectors ON the codebook grid round-trip exactly") {
    import spark.implicits._
    // 2 subspaces x 4 codewords x dsub=3; every vector is a concatenation
    // of codewords, so quantization error is zero and ADC == exact dot
    val books = Array(
      Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f),
        Array(0.5f, 0.5f, 0f)),
      Array(Array(2f, 0f, 0f), Array(0f, 2f, 0f), Array(0f, 0f, 2f),
        Array(1f, 1f, 1f)))
    val model = PqModel(books)
    val rows = for (i <- 0 until 4; j <- 0 until 4)
      yield ((i * 4 + j).toLong, (books(0)(i) ++ books(1)(j)).toSeq)
    val df = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val encoded = SimilaritySearch.encode(df, "embedding", model)
    // codes recover the construction indices
    encoded.collect().foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val code = r.getAs[Array[Byte]]("pq_code")
      code.toSeq shouldBe Seq((id / 4).toByte, (id % 4).toByte)
    }
    // ADC score equals the exact dot for every row
    val q = Array(0.3f, -1.2f, 0.7f, 2.5f, 0f, -0.4f)
    val lut = model.lut(q)
    encoded.collect().foreach { r =>
      val v = r.getSeq[Float](1)
      val exact = v.zip(q).map { case (a, b) => a.toDouble * b }.sum
      val adc = graft.expressions.PqAdcDot.score(
        r.getAs[Array[Byte]]("pq_code"), lut)
      adc shouldBe exact +- 1e-9
    }
  }

  test("codes are M bytes: 16x smaller than the raw 64-dim float vector") {
    val model = SimilaritySearch.pqTrain(emb, "embedding", m = 16, ksub = 32)
    model.dim shouldBe 64
    val encoded = SimilaritySearch.encode(emb, "embedding", model)
    encoded.schema("pq_code").dataType shouldBe
      org.apache.spark.sql.types.BinaryType
    encoded.select("pq_code").collect()
      .foreach(_.getAs[Array[Byte]](0).length shouldBe 16)
  }

  test("ADC-only recall@10 on the fixture clears the floor; refine recovers exact") {
    val model = SimilaritySearch.pqTrain(emb, "embedding", m = 16, ksub = 32)
    val encoded = SimilaritySearch.encode(emb, "embedding", model)
      .select(col("vec_id"), col("pq_code"))    // codes only — no vectors
    for (qid <- Seq(0L, 7L, 101L)) {
      val qv = queryVec(qid)
      val exact = exactTopIds(qv, 10)
      val adcOnly = SimilaritySearch.quantizedSearch(encoded, model, "vec_id",
        qv, k = 10).collect().map(_.getAs[Long]("vec_id")).toSet
      // ADC-only recall is config- and query-dependent (16 B of code for a
      // 256 B near-random vector); the sanity floor just separates it from
      // chance (random recall@10 here ~ 0.05). The REAL contract is the
      // two-stage equality below.
      val recall = exact.count(adcOnly.contains) / 10.0
      withClue(s"query $qid adc-only recall: ") { recall should be >= 0.2 }
      // two-stage: ADC candidates -> exact re-rank == exact top-k
      val refined = SimilaritySearch.quantizedSearch(encoded, model, "vec_id",
          qv, k = 10, refine = 16, exactSource = Some((emb, "embedding")))
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
      withClue(s"query $qid refined: ") {
        refined.map(_._1).toSeq shouldBe exact
      }
    }
  }

  test("training is deterministic under the seed") {
    val a = SimilaritySearch.pqTrain(emb, "embedding", m = 4, ksub = 16)
    val b = SimilaritySearch.pqTrain(emb, "embedding", m = 4, ksub = 16)
    a.codebooks.flatten.flatten.toSeq shouldBe b.codebooks.flatten.flatten.toSeq
  }

  test("ragged dims: dim not divisible by m still encodes every element") {
    import spark.implicits._
    // dim=7, m=2 -> widths 4 and 3
    val df = Seq((1L, Seq(1f, 2f, 3f, 4f, 5f, 6f, 7f)),
        (2L, Seq(7f, 6f, 5f, 4f, 3f, 2f, 1f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val model = SimilaritySearch.pqTrain(df, "embedding", m = 2, ksub = 2)
    model.dim shouldBe 7
    model.codebooks(0)(0).length + model.codebooks(1)(0).length shouldBe 7
    // with ksub = corpus size, every vector is its own codeword: lossless
    val enc = SimilaritySearch.encode(df, "embedding", model)
    val q = Array(1f, 1f, 1f, 1f, 1f, 1f, 1f)
    val lut = model.lut(q)
    enc.collect().foreach { r =>
      val exact = r.getSeq[Float](1).map(_.toDouble).sum
      graft.expressions.PqAdcDot.score(
        r.getAs[Array[Byte]]("pq_code"), lut) shouldBe exact +- 1e-6
    }
  }

  test("eval and codegen agree on encode and adc score") {
    import spark.implicits._
    val model = SimilaritySearch.pqTrain(emb, "embedding", m = 8, ksub = 16)
    val lut = model.lut(queryVec(0L))
    val rows = emb.limit(50).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Float](1)))
    // interpreted mirror: call the shared helpers directly on copied data
    val viaDf = SimilaritySearch.encode(emb.limit(50), "embedding", model)
      .withColumn("adc",
        graft.expressions.VectorExpressions.pqAdcDot(col("pq_code"), lut))
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Array[Byte]]("pq_code").toSeq, r.getAs[Double]("adc")))
      .toMap
    rows.foreach { case (id, v) =>
      val code = graft.expressions.PqEncode.encode(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v.toArray),
        model.codebooks)
      val adc = graft.expressions.PqAdcDot.score(code, model.lut(queryVec(0L)))
      viaDf(id)._1 shouldBe code.toSeq
      viaDf(id)._2 shouldBe adc +- 1e-12
    }
  }

  test("pqAdcDotMulti: per-row LUT selection matches per-query pqAdcDot " +
      "through codegen; out-of-range index errors") {
    import spark.implicits._
    val model = SimilaritySearch.pqTrain(emb, "embedding", m = 8, ksub = 16)
    val qids = Seq(0L, 3L, 7L)
    val luts = qids.map(q => model.lut(queryVec(q))).toArray
    val encoded = SimilaritySearch.encode(emb.limit(40), "embedding", model)
      .select(col("vec_id"), col("pq_code"))
    // every (row, query) pair through the multi expression in one pass
    val multi = encoded
      .crossJoin(qids.indices.map(i => Tuple1(i)).toDF("qi"))
      .withColumn("adc", graft.expressions.VectorExpressions
        .pqAdcDotMulti(col("pq_code"), col("qi"), luts))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("qi")) ->
        r.getAs[Double]("adc"))
      .toMap
    // reference: one single-query pqAdcDot scan per query
    qids.indices.foreach { qi =>
      encoded.withColumn("adc", graft.expressions.VectorExpressions
          .pqAdcDot(col("pq_code"), luts(qi)))
        .collect().foreach { r =>
          multi((r.getAs[Long]("vec_id"), qi)) shouldBe
            r.getAs[Double]("adc") +- 1e-12
        }
    }
    an[IllegalArgumentException] should be thrownBy
      graft.expressions.PqAdcDotMulti.score(Array.fill(8)(0: Byte), 3, luts)
  }

  test("vecDotMulti: per-row query selection matches cosineUnit(vecLit) " +
      "bit for bit through codegen; bad index / dim mismatch error") {
    import graft.functions.VectorFunctions.{cosineUnit, vecLit}
    val qids = Seq(0L, 5L)
    val table = qids.map(queryVec).toArray
    val rows = emb.limit(30)
    qids.indices.foreach { qi =>
      val viaMulti = rows
        .withColumn("s", graft.expressions.VectorExpressions
          .vecDotMulti(col("embedding"), lit(qi), table))
        .select(col("vec_id"), col("s")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      rows.withColumn("s", cosineUnit(col("embedding"), vecLit(table(qi))))
        .select(col("vec_id"), col("s")).collect()
        .foreach { r => viaMulti(r.getLong(0)) shouldBe r.getDouble(1) }
    }
    an[IllegalArgumentException] should be thrownBy
      graft.expressions.VecDotMulti.score(
        org.apache.spark.sql.catalyst.util.ArrayData
          .toArrayData(Array.fill(64)(0f)), 2, table)
    an[IllegalArgumentException] should be thrownBy
      graft.expressions.VecDotMulti.score(
        org.apache.spark.sql.catalyst.util.ArrayData
          .toArrayData(Array.fill(8)(0f)), 0, table)
  }

  test("adc rejects code/LUT subspace mismatch in both directions") {
    // codes from a different PqModel than the query LUT must error, never
    // silently score a prefix of the vector
    val lut8 = Array.fill(8)(Array.fill(16)(1.0))
    an[IllegalArgumentException] should be thrownBy
      graft.expressions.PqAdcDot.score(Array.fill(4)(0: Byte), lut8)
    an[IllegalArgumentException] should be thrownBy
      graft.expressions.PqAdcDot.score(Array.fill(16)(0: Byte), lut8)
    graft.expressions.PqAdcDot.score(
      Array.fill(8)(0: Byte), lut8) shouldBe 8.0 +- 1e-12
  }
}
