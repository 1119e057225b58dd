package graft.ops

import graft.{SparkSpec, TestSpark}
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class SimilaritySearchSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet(s"${TestSpark.sf0001}/embeddings.parquet")
  private lazy val all = emb.select("vec_id", "embedding").collect()
    .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  test("topK matches driver-side brute force") {
    val qv = all(11L)
    val want = all.toSeq.map { case (id, v) => id -> VectorFunctions.dot(qv, v) }
      .sortBy { case (id, s) => (-s, id) }.take(7).map(_._1)
    val got = SimilaritySearch.topK(emb, "vec_id", "embedding", qv, 7)
      .collect().map(_.getLong(0)).toSeq
    got shouldBe want
  }

  test("knnJoin: per-query ranks agree with brute force") {
    val queries = emb.filter(col("vec_id") < 3)
    val got = SimilaritySearch.knnJoin(queries, emb, "vec_id", "vec_id",
      "embedding", k = 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    (0L until 3L).foreach { q =>
      val want = all.toSeq
        .map { case (id, v) => id -> VectorFunctions.dot(all(q), v) }
        .sortBy { case (id, s) => (-s, id) }.take(4).map(_._1)
      got(q).sorted shouldBe want.sorted
    }
  }

  test("knnJoin viaAggregator: identical (query, id, score, rank) tuples " +
      "to the window path") {
    val queries = emb.filter(col("vec_id") < 5)
    def tuples(viaAgg: Boolean) =
      SimilaritySearch.knnJoin(queries, emb, "vec_id", "vec_id",
        "embedding", k = 4, viaAggregator = viaAgg)
        .select(col("query_id"), col("vec_id"), col("score"),
          col("rank").cast("int"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    tuples(viaAgg = true) shouldBe tuples(viaAgg = false)
  }

  test("knnJoin viaAggregator rejects non-integral pks loudly (a string " +
      "pk would cast to null and collapse all corpus rows onto one key)") {
    val qs = emb.filter(col("vec_id") < 2)
      .withColumn("sid", concat(lit("doc-"), col("vec_id")))
    val corpusStr = emb.withColumn("sid", concat(lit("doc-"), col("vec_id")))
    an[IllegalArgumentException] should be thrownBy
      SimilaritySearch.knnJoin(qs, corpusStr, "sid", "sid", "embedding",
        k = 3, viaAggregator = true)
    // the window path handles any pk type
    SimilaritySearch.knnJoin(qs, corpusStr, "sid", "sid", "embedding",
      k = 3).count() shouldBe 6
  }

  test("thresholdJoin returns exactly the pairs above minScore") {
    val queries = emb.filter(col("vec_id") === 2)
    val want = all.toSeq
      .map { case (id, v) => id -> VectorFunctions.dot(all(2L), v) }
      .filter(_._2 >= 0.3).map(_._1).toSet
    val got = SimilaritySearch.thresholdJoin(queries, emb, "vec_id", "vec_id",
      "embedding", 0.3).collect().map(_.getAs[Long]("vec_id")).toSet
    got shouldBe want
  }

  test("thresholdJoinLsh == exact thresholdJoin at the pinned family " +
      "(deep tables make the per-pair miss probability ~1e-5); ids-only " +
      "blocking join") {
    val queries = emb.filter(col("vec_id") < 16)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("vec_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(SimilaritySearch.thresholdJoin(queries, emb, "vec_id",
      "vec_id", "embedding", 0.4)
      .select(col("query_id"), col("vec_id"), col("score")))
    exact should not be empty // the assertion below must bite
    val lsh = SimilaritySearch.thresholdJoinLsh(queries, emb, "vec_id",
      "vec_id", "embedding", 0.4, planes = 4, tables = 64)
    // exact verify -> false positives impossible; at planes=4/tables=64
    // and theta(0.4) the per-pair miss probability is ~1.5e-5, and under
    // the pinned seed the family is deterministic: equality, not approx
    pairs(lsh) shouldBe exact
    // scale guard: the blocking join consumes no array column (vectors
    // re-attach only after candidate dedup)
    import org.apache.spark.sql.types.ArrayType
    val blocking = lsh.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if (j.leftKeys ++ j.rightKeys)
            .flatMap(_.references.map(_.name)).contains("bucket") => j
    }
    blocking should not be empty
    blocking.foreach { j =>
      (j.left.output ++ j.right.output)
        .filter(_.dataType.isInstanceOf[ArrayType]) shouldBe empty
    }
  }

  test("IVF: cells partition the corpus; probe recall reasonable") {
    val (indexed, cents) = SimilaritySearch.ivfBuildKMeans(emb, "vec_id",
      "embedding", nCells = 8)
    indexed.count() shouldBe emb.count() // assignment is total
    cents.length shouldBe 8
    val qv = all(0L)
    val exact = SimilaritySearch.topK(emb, "vec_id", "embedding", qv, 5)
      .collect().map(_.getLong(0)).toSet
    // full probe == exact (sanity: pruning at nProbe=all loses nothing)
    val full = SimilaritySearch.ivfSearch(indexed, cents, "vec_id", "embedding",
      qv, 5, nProbe = 8).collect().map(_.getLong(0)).toSet
    full shouldBe exact
    // partial probe: top-1 (the self-match) must survive its own cell
    val part = SimilaritySearch.ivfSearch(indexed, cents, "vec_id", "embedding",
      qv, 5, nProbe = 2).collect().map(_.getLong(0)).toSet
    part should contain(0L)
  }

  test("maxSimSearch: full probe == exact doc-level group-max; partial " +
      "probe keeps the self-match doc; VectorIndex API guards layout") {
    import org.apache.spark.sql.functions._
    val (indexed, cents) = SimilaritySearch.ivfBuildKMeans(emb, "vec_id",
      "embedding", nCells = 8)
    val qv = all(0L)
    // exact MaxSim ground truth: dot every chunk, max per doc (label),
    // rank by (score desc, doc) — computed with plain DataFrame ops
    val exact = emb
      .withColumn("score", graft.functions.VectorFunctions.cosineUnit(
        col("embedding"), graft.functions.VectorFunctions.vecLit(qv)))
      .groupBy(col("label")).agg(max("score").as("score"))
      .orderBy(desc("score"), col("label")).limit(5)
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val full = SimilaritySearch.maxSimSearch(indexed, cents, "label",
        "embedding", qv, k = 5, nProbe = 8)
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    full shouldBe exact
    // partial probe: vec 0's own chunk survives its own cell, so its doc
    // must keep rank 1 with the exact self-match score
    val part = SimilaritySearch.maxSimSearch(indexed, cents, "label",
        "embedding", qv, k = 5, nProbe = 2)
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    part.head shouldBe exact.head
    // index API: routed MaxSim needs the IVF layout and the doc column
    val idx = graft.index.VectorIndex.build(emb, "maxsim-spec", "vec_id",
      "embedding")
    an[IllegalStateException] should be thrownBy
      idx.searchMaxSim(qv, "label", k = 5)
    idx.buildIvf(nCells = 8)
    an[IllegalArgumentException] should be thrownBy
      idx.searchMaxSim(qv, "nope", k = 5)
    idx.searchMaxSim(qv, "label", k = 5, nProbe = 8)
      .collect().map(r => (r.getInt(0), r.getDouble(1))) shouldBe exact
  }

  test("knnJoinIvf: full probe == exact knnJoin; pruned probe recall " +
      ">= 0.95@10; aggregator path identical; rank exchange vector-free") {
    val (indexed, cents) = SimilaritySearch.ivfBuildKMeans(emb, "vec_id",
      "embedding", nCells = 8)
    val queries = emb.filter(col("vec_id") < 32)
    def tuples(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("vec_id"), col("score"),
        col("rank").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val exact = tuples(SimilaritySearch.knnJoin(queries, emb, "vec_id",
      "vec_id", "embedding", k = 10))
    // full probe: routing prunes nothing, result EQUALS the exact join
    tuples(SimilaritySearch.knnJoinIvf(queries, indexed, cents, "vec_id",
      "vec_id", "embedding", k = 10, nProbe = 8)) shouldBe exact
    // pruned probe on the fixture: still a working join (k rows per query)
    val pruned = SimilaritySearch.knnJoinIvf(queries, indexed, cents,
      "vec_id", "vec_id", "embedding", k = 10, nProbe = 4)
    tuples(pruned).groupBy(_._1).foreach { case (_, rows) =>
      rows.size shouldBe 10
    }
    // aggregator path: identical tuples at the same probe set
    tuples(SimilaritySearch.knnJoinIvf(queries, indexed, cents, "vec_id",
      "vec_id", "embedding", k = 10, nProbe = 4,
      viaAggregator = true)) shouldBe tuples(pruned)
    // scale guard: the per-query rank window consumes (query_id, pk,
    // score) only — its required distribution is what causes the one
    // shuffle, so an array-free window input means vectors never ride
    // the rank exchange
    import org.apache.spark.sql.types.ArrayType
    val windows = pruned.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    windows should not be empty
    windows.foreach { w =>
      withClue(s"rank window input carries arrays: ${w.child.output}") {
        w.child.output.filter(_.dataType.isInstanceOf[ArrayType]) shouldBe empty
      }
    }
  }

  test("knnJoinIvfPq: full probe + deep refine == exact knnJoin; ADC-only " +
      "path returns k ranked rows per query; LUTs built executor-side; " +
      "empty batch yields empty result") {
    val (indexed, cents) = SimilaritySearch.ivfBuildKMeans(emb, "vec_id",
      "embedding", nCells = 8)
    val model = SimilaritySearch.pqTrain(emb, "embedding", m = 16, ksub = 32)
    val encoded = SimilaritySearch.encode(indexed, "embedding", model)
      .select(col("vec_id"), col("cell"), col("pq_code"))
    val queries = emb.filter(col("vec_id") < 16)
    def tuples(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("vec_id"), col("score"),
        col("rank").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val exact = tuples(SimilaritySearch.knnJoin(queries, emb, "vec_id",
      "vec_id", "embedding", k = 10))
    // routing prunes nothing at full probe; refine deep enough to recover
    // the exact top-10 per query, scores re-computed on raw vectors so the
    // tuples match bit for bit
    tuples(SimilaritySearch.knnJoinIvfQuantized(queries, encoded, cents, model,
      "vec_id", "vec_id", "embedding", k = 10, nProbe = 8, refine = 48,
      exactSource = Some((emb, "embedding")))) shouldBe exact
    // ADC-only: approximate scores, but shape + per-query cardinality hold
    val adcOnly = SimilaritySearch.knnJoinIvfQuantized(queries, encoded, cents,
      model, "vec_id", "vec_id", "embedding", k = 10, nProbe = 8)
    adcOnly.collect().map(_.getAs[Long]("query_id"))
      .groupBy(identity).values.foreach(_.length shouldBe 10)
    // driver-independence guard: the per-query LUT is an expression IN the
    // plan (computed executor-side from the broadcast codebook), not a
    // driver-collected reference table — an unbounded query batch never
    // builds per-query state on the driver
    val plan = adcOnly.queryExecution.optimizedPlan
    val lutNodes = plan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case e: graft.expressions.PqLut => e })
    }.flatten
    lutNodes should not be empty
    plan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case e: graft.expressions.PqAdcDotMulti => e })
    }.flatten shouldBe empty
    // empty batch: empty result, still the right schema — no driver-side
    // materialization means nothing to reject
    SimilaritySearch.knnJoinIvfQuantized(emb.filter(col("vec_id") < 0), encoded,
      cents, model, "vec_id", "vec_id", "embedding", k = 5)
      .count() shouldBe 0L
  }

  test("knnJoinIvfSq: full probe + refine=2 == exact knnJoin; factors " +
      "built executor-side (eval/codegen parity); empty batch empty") {
    val (indexed, cents) = SimilaritySearch.ivfBuildKMeans(emb, "vec_id",
      "embedding", nCells = 8)
    val model = ScalarQuantization.sqTrain(emb, "embedding")
    val encoded = SimilaritySearch.encode(indexed, "embedding", model)
      .select(col("vec_id"), col("cell"), col("sq_code"))
    val queries = emb.filter(col("vec_id") < 16)
    def tuples(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("vec_id"), col("score"),
        col("rank").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val exact = tuples(SimilaritySearch.knnJoin(queries, emb, "vec_id",
      "vec_id", "embedding", k = 10))
    // the near-lossless grid needs only the SQ default refine=2 where the
    // PQ twin above needs 48 — that asymmetry IS the operator's point
    tuples(SimilaritySearch.knnJoinIvfQuantized(queries, encoded, cents, model,
      "vec_id", "vec_id", "embedding", k = 10, nProbe = 8,
      exactSource = Some((emb, "embedding")))) shouldBe exact
    // ADC-only shape + per-query cardinality
    val adcOnly = SimilaritySearch.knnJoinIvfQuantized(queries, encoded, cents,
      model, "vec_id", "vec_id", "embedding", k = 10, nProbe = 8)
    adcOnly.collect().map(_.getAs[Long]("query_id"))
      .groupBy(identity).values.foreach(_.length shouldBe 10)
    // driver-independence: the factors are an expression IN the plan
    val plan = adcOnly.queryExecution.optimizedPlan
    plan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case e: graft.expressions.SqFactors => e })
    }.flatten should not be empty
    // eval/codegen parity of the factor/scoring pair against the
    // driver-side model math they must reproduce bit for bit
    val qv = all(3L)
    val (scaled, bias) = model.queryFactors(qv)
    val viaExprs = SimilaritySearch.encode(emb, "embedding", model)
      .filter(col("vec_id") === 42L)
      .select(graft.expressions.VectorExpressions.sqAdcDotLut(
        col("sq_code"), graft.expressions.VectorExpressions.sqFactors(
          graft.functions.VectorFunctions.vecLit(qv).cast("array<float>"),
          model.mins, model.steps)).as("s"))
      .head().getDouble(0)
    val code = SimilaritySearch.encode(emb, "embedding", model)
      .filter(col("vec_id") === 42L).select("sq_code")
      .head().getAs[Array[Byte]](0)
    viaExprs shouldBe graft.expressions.SqAdcDot.score(code, scaled, bias)
    // mismatched factors layout fails loudly, not silent garbage
    an[IllegalArgumentException] should be thrownBy
      graft.expressions.SqAdcDotLut.score(code,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          new Array[Double](code.length))) // dim, not dim+1
    SimilaritySearch.knnJoinIvfQuantized(emb.filter(col("vec_id") < 0), encoded,
      cents, model, "vec_id", "vec_id", "embedding", k = 5)
      .count() shouldBe 0L
  }

  test("knnJoinIvf recall >= 0.95@10 at a SHALLOW probe on a clustered " +
      "corpus (routing finds the right cells when structure exists)") {
    // the parquet fixture's vectors are near-random — recall there just
    // tracks the probed fraction, which tests nothing about routing. A
    // clustered corpus is the case IVF exists for: 8 well-separated
    // centers, points = center + small noise, so each query's true top-10
    // live in its own cluster and nProbe=2 of 8 must recover them.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val centers = Array.fill(8)(unit(Array.fill(64)(rnd.nextGaussian().toFloat)))
    val corpus = (0 until 2000).map { i =>
      val c = centers(i % 8)
      (i.toLong, unit(c.zip(Array.fill(64)(rnd.nextGaussian().toFloat * 0.15f))
        .map { case (a, b) => a + b }).toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val (indexed, cents) = SimilaritySearch.ivfBuildKMeans(corpus, "vec_id",
      "embedding", nCells = 8, maxIter = 10)
    val queries = corpus.filter(col("vec_id") < 32)
    def ids(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val exact = ids(SimilaritySearch.knnJoin(queries, corpus, "vec_id",
      "vec_id", "embedding", k = 10))
    val routed = ids(SimilaritySearch.knnJoinIvf(queries, indexed, cents,
      "vec_id", "vec_id", "embedding", k = 10, nProbe = 2))
    val recalls = exact.map { case (q, want) =>
      (want intersect routed.getOrElse(q, Set.empty[Long])).size
        .toDouble / want.size
    }
    (recalls.sum / recalls.size) should be >= 0.95
  }

  test("IVF with distributed KMeans centroids: total assignment, full probe exact") {
    val (indexed, cents) = SimilaritySearch.ivfBuildKMeans(emb, "vec_id",
      "embedding", nCells = 8, maxIter = 3)
    indexed.count() shouldBe emb.count()
    cents.length shouldBe 8
    val qv = all(4L)
    val exact = SimilaritySearch.topK(emb, "vec_id", "embedding", qv, 5)
      .collect().map(_.getLong(0)).toSet
    SimilaritySearch.ivfSearch(indexed, cents, "vec_id", "embedding", qv, 5,
      nProbe = 8).collect().map(_.getLong(0)).toSet shouldBe exact
  }

  private def runMmr(rows: Seq[(Long, Seq[Float])], qv: Array[Float],
      k: Int, fetchK: Int, lambda: Double): Seq[(Int, Long, Double, Double)] = {
    import spark.implicits._
    SimilaritySearch.mmrRerank(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", qv, k, fetchK, lambda)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq.sortBy(_._1)
  }

  test("mmrRerank hand case: diversity promotes the off-axis hit over " +
      "the near-duplicate of rank 1") {
    // q=(1,0). a=(0.8,0.6) rel .8 is rank 1 (mmr = λ·rel = .4);
    // b=(0.79,0.61) rel .79 is a near-dup of a (sim .9981) so its mmr is
    // .395-.49905 < 0; c=(0.7,-0.7) rel .7, sim(c,a)=.14 -> mmr .28 wins
    // rank 2 despite lower relevance. Pure-relevance order would be a,b,c.
    val rows = Seq((1L, Seq(0.8f, 0.6f)), (2L, Seq(0.79f, 0.61f)),
      (3L, Seq(0.7f, -0.7f)))
    val got = runMmr(rows, Array(1f, 0f), k = 3, fetchK = 3, lambda = 0.5)
    got.map(_._2) shouldBe Seq(1L, 3L, 2L)
    got(0)._4 shouldBe (0.4 +- 1e-6)
    got(1)._4 shouldBe (0.28 +- 1e-6)
    got(2)._4 shouldBe (0.395 - 0.5 * (0.79 * 0.8 + 0.61 * 0.6) +- 1e-6)
  }

  test("mmrRerank at lambda=1 is pure relevance (topK order); guards") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 40L).map(n =>
      n -> Seq.fill(6)(rnd.nextGaussian().toFloat))
    val qv = rows(3)._2.toArray
    import spark.implicits._
    val rel = SimilaritySearch.topK(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", qv, 8)
      .collect().map(_.getLong(0)).toSeq
    runMmr(rows, qv, k = 8, fetchK = 20, lambda = 1.0)
      .map(_._2) shouldBe rel
    an[IllegalArgumentException] should be thrownBy
      runMmr(rows, qv, k = 5, fetchK = 3, lambda = 0.5)
    an[IllegalArgumentException] should be thrownBy
      runMmr(rows, qv, k = 2, fetchK = 5, lambda = 1.5)
  }

  test("mmrRerank matches an independent functional mirror on seeded " +
      "vectors, and never repeats a pick") {
    val rnd = new scala.util.Random(23)
    val rows = (0L until 60L).map(n =>
      n -> Seq.fill(5)(rnd.nextGaussian().toFloat))
    val qv = rows(0)._2.toArray
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
        s + x.toDouble * y.toDouble }
    val lambda = 0.5
    val pool = rows.map { case (id, v) => (id, dot(v, qv), v) }
      .sortBy { case (id, s, _) => (-s, id) }.take(25).toList
    var rem = pool.map { case (id, r, v) => (id, r, v, Double.NegativeInfinity) }
    var want = List.empty[Long]
    (1 to 10).foreach { rank =>
      val best = rem.map { case (id, r, v, ms) =>
        val s = if (rank == 1) lambda * r else lambda * r - (1 - lambda) * ms
        (id, r, v, ms, s)
      }.minBy { case (id, _, _, _, s) => (-s, id) }
      want = want :+ best._1
      rem = rem.filter(_._1 != best._1).map { case (id, r, v, ms) =>
        (id, r, v, math.max(ms, dot(v, best._3))) }
    }
    val got = runMmr(rows, qv, k = 10, fetchK = 25, lambda = lambda)
    got.map(_._2) shouldBe want
    got.map(_._2).distinct.size shouldBe 10
  }
}
