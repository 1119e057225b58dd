package graft.ops

import graft.Graft.MaterializeOps
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search as first-class relational operators over an
  * `array<float>` embedding column (the reference's `similarity_search`,
  * `Nomic MultiModal Retrieval.py:380-390`, generalized per SURVEY §2.4).
  *
  * Scale design: the query side is always the small side — broadcast it.
  * Corpus-side scoring is map-only (no shuffle); per-query top-k uses a
  * rank-over-window only when there are multiple queries, otherwise
  * `TakeOrderedAndProject`. The IVF variant prunes the corpus to the
  * closest centroid partitions before scoring, the standard ANN recall/cost
  * trade.
  */
object SimilaritySearch {

  /** Single-query exact top-k: broadcast scalar query vector, map-only
    * scoring, per-partition heaps (`TakeOrderedAndProject`). */
  def topK(corpus: DataFrame, pk: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame =
    corpus.withColumn("score", cosineUnit(col(vecCol), vecLit(query)))
      .orderBy(desc("score"), col(pk))
      .limit(k)
      .drop(vecCol)

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
    * diversified top-k — each pick maximizes
    * `lambda·rel(d) − (1−lambda)·max_{s∈selected} sim(d, s)`, so
    * near-duplicate hits stop crowding the result page. The retrieval
    * serving shape: relevance alone returns ten paraphrases of one
    * document; MMR trades a little relevance for coverage.
    *
    * Scale shape: stage 1 is [[topK]]'s distributed plan (map-only
    * codegen scoring + `TakeOrderedAndProject`) fetching the `fetchK`
    * candidate pool — the ONLY corpus-sized work. Stage 2 is the greedy
    * selection on the collected pool: a BOUNDED endpoint collect of
    * `fetchK` rows (the O10 convention) and O(fetchK·k) driver dots —
    * fetchK is 10s-to-100s by construction, never corpus-sized. Ties
    * break to the smallest pk; `sim` is the unit-norm dot
    * (the engine's cosine convention). Output:
    * `(rank, <pk>, rel, mmr)`, rank 1..k; rank 1's mmr is `lambda·rel`
    * by definition (nothing is selected yet to repel from). */
  def mmrRerank(corpus: DataFrame, pk: String, vecCol: String,
      query: Array[Float], k: Int, fetchK: Int,
      lambda: Double): DataFrame = {
    require(k > 0 && fetchK >= k,
      s"need fetchK >= k > 0, got k=$k fetchK=$fetchK")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cands = corpus
      .withColumn("rel", cosineUnit(col(vecCol), vecLit(query)))
      .orderBy(desc("rel"), col(pk))
      .limit(fetchK)
      .select(col(pk).cast("long"), col("rel"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Float](2).toArray))
    val n = cands.length
    val used = new Array[Boolean](n)
    // -Inf, not 0: a candidate whose similarity to every selected pick is
    // negative must keep that (negative) max, or its mmr score is clamped
    // and the greedy order diverges from the MMR definition. rank==1
    // never reads it (nothing selected yet).
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val out = Seq.newBuilder[(Int, Long, Double, Double)]
    var rank = 1
    while (rank <= math.min(k, n)) {
      var best = -1
      var bestScore = 0.0
      var i = 0
      while (i < n) {
        if (!used(i)) {
          val s =
            if (rank == 1) lambda * cands(i)._2
            else lambda * cands(i)._2 - (1 - lambda) * maxSim(i)
          if (best < 0 || s > bestScore ||
              (s == bestScore && cands(i)._1 < cands(best)._1)) {
            best = i; bestScore = s
          }
        }
        i += 1
      }
      used(best) = true
      out += ((rank, cands(best)._1, cands(best)._2, bestScore))
      var j = 0
      while (j < n) {
        if (!used(j)) {
          val s = graft.functions.VectorFunctions.dot(
            cands(j)._3, cands(best)._3)
          if (s > maxSim(j)) maxSim(j) = s
        }
        j += 1
      }
      rank += 1
    }
    out.result().toDF("rank", pk, "rel", "mmr")
  }

  /** Multi-query exact k-NN join: broadcast the (small) query relation
    * against the corpus, score map-side, rank per query. Deterministic
    * tie-break on corpus pk.
    *
    * Two physical strategies behind one result:
    *   - window (default): rank `row_number() over (partition by query)` —
    *     shuffles EVERY scored row to its query's partition before ranking;
    *     fine when the corpus is modest or k is a large fraction of it;
    *   - `viaAggregator = true`: [[TopKAggregator.knnAggregate]] — map-side
    *     partial aggregation reduces each partition to <= k rows per query
    *     BEFORE the shuffle, so the exchange carries O(k * partitions) rows
    *     per query instead of O(corpus). The scale path when corpus >>
    *     k * partitions (the common 100 TB shape); integer pks and the
    *     `(query_id, pk, score, rank)` projection only (re-attach other
    *     corpus columns by joining on pk afterwards). */
  def knnJoin(queries: DataFrame, corpus: DataFrame, qPk: String,
      cPk: String, vecCol: String, k: Int,
      viaAggregator: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries.select(col(qPk).as("query_id"), col(vecCol).as("__qv"))
    val scored = corpus.crossJoin(broadcast(q))
      .withColumn("score", cosineUnit(col(vecCol), $"__qv"))
    if (viaAggregator) {
      requireIntegralPks(queries, qPk, corpus, cPk)
      val tuples = scored.select($"query_id".cast("long"),
        col(cPk).cast("long"), $"score".cast("double")).as[(Long, Long, Double)]
      TopKAggregator.knnAggregate(tuples, k)
        .toDF("query_id", cPk, "score", "rank")
    } else {
      val w = Window.partitionBy($"query_id").orderBy(desc("score"), col(cPk))
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= k)
        .drop("__qv", vecCol)
    }
  }

  /** IVF-routed multi-query kNN join — the nightly batch-retrieval shape
    * of an LLM data pipeline (the exact [[knnJoin]] scores the FULL
    * query × corpus grid; this one scores only the slice that can win).
    *
    * Routing: every query ranks the whole centroid matrix (nCells
    * struct entries sorted by one codegen'd `array_sort` — centroids are
    * broadcast literals, k·dim floats) and keeps its `nProbe` nearest
    * cells; queries explode to (query_id, cell, qv) and equi-join the
    * cell-assigned corpus on `cell`. A broadcast-sized query side
    * broadcasts (a huge batch degrades to a plain shuffle join, still
    * fully distributed), so corpus scoring stays map-only, touching
    * ~nProbe/nCells of the grid; a corpus row scores once per probing
    * query (cells are distinct per query). Scored rows project to
    * (query_id, pk, score) BEFORE the per-query rank, so the rank
    * exchange ships ids + doubles, never vectors. Approximate with the
    * standard IVF recall/cost trade; `nProbe >= nCells` provably equals
    * exact [[knnJoin]] (spec-verified). Result: `(query_id, cPk, score,
    * rank)` — re-attach corpus columns by pk afterwards.
    *
    * `viaAggregator` swaps the rank-over-window for
    * [[TopKAggregator.knnAggregate]] (map-side partial top-k; integral
    * pks required) — compose both cuts when corpus >> k·partitions. */
  /** Per-query IVF routing, the one copy shared by every cell-routed
    * retrieval path (batch kNN joins and
    * [[graft.streaming.StreamingRetrieval.knnStream]]): rank the
    * broadcast centroid matrix — nCells (negScore, cell) structs, one
    * sorted pass, keep nProbe, all inside whole-stage codegen — and
    * explode to (query_id, payload..., cell) probe rows. Stateless,
    * per-row work only. `payload` carries the per-query columns that must
    * ride to the cell join (raw query vector or the executor-derived
    * [[Quantizer.queryLut]]), named here so callers and this helper
    * can't drift. */
  private[graft] def ivfRoute(queries: DataFrame,
      centroids: Array[Array[Float]], vecCol: String, nProbe: Int,
      qId: Column, payload: (Column, String)*): DataFrame = {
    val centArr = array(centroids.indices.map(i =>
      struct((-cosineUnit(col(vecCol), vecLit(centroids(i)))).as("negScore"),
        lit(i).as("cell"))): _*)
    queries
      .select((qId.as("query_id") +: payload.map { case (c, n) => c.as(n) })
        :+ slice(array_sort(centArr), 1,
          math.min(nProbe, centroids.length)).as("__probes"): _*)
      .select((col("query_id") +: payload.map(p => col(p._2)))
        :+ explode(col("__probes.cell")).as("cell"): _*)
  }

  def knnJoinIvf(queries: DataFrame, indexed: DataFrame,
      centroids: Array[Array[Float]], qPk: String, cPk: String,
      vecCol: String, k: Int, nProbe: Int = -1,
      viaAggregator: Boolean = false): DataFrame = {
    val probe = resolveProbe(nProbe, centroids.length)
    val spark = indexed.sparkSession
    import spark.implicits._
    val probed = ivfRoute(queries, centroids, vecCol, probe,
      col(qPk), col(vecCol) -> "__qv")
    val scored = indexed.select(col(cPk), col("cell"), col(vecCol))
      .join(broadcastIfSmall(probed), Seq("cell"))
      .select($"query_id", col(cPk),
        cosineUnit(col(vecCol), $"__qv").as("score"))
    if (viaAggregator) {
      requireIntegralPks(queries, qPk, indexed, cPk)
      val tuples = scored.select($"query_id".cast("long"),
        col(cPk).cast("long"), $"score".cast("double")).as[(Long, Long, Double)]
      TopKAggregator.knnAggregate(tuples, k)
        .toDF("query_id", cPk, "score", "rank")
    } else {
      val w = Window.partitionBy($"query_id").orderBy(desc("score"), col(cPk))
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= k)
    }
  }

  /** Broadcast only when Catalyst's size estimate says the relation is
    * broadcast-sized. The batch-retrieval contract is that DRIVER cost
    * must not scale with Q — an unconditional `broadcast()` hint
    * materializes the whole relation on the driver first, which is
    * exactly the bottleneck the executor-side LUT path removed. Plan
    * statistics cost no job; a misestimate degrades to AQE's runtime
    * join choice, never to a driver OOM. Best-effort by design: a lazy
    * frame with pessimistic default estimates (e.g. behind a window or
    * an un-materialized aggregate) declines the hint even when the true
    * size is tiny — materialize bounded frames first (as [[rankRefine]]
    * does) where the broadcast matters. */
  private def broadcastIfSmall(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= (64L << 20))
      broadcast(df)
    else df

  /** The aggregator rank path carries pks as longs; a string/uuid pk would
    * cast to null and silently collapse every corpus row onto one key —
    * fail loudly instead of returning wrong results. */
  private def requireIntegralPks(queries: DataFrame, qPk: String,
      corpus: DataFrame, cPk: String): Unit = {
    import org.apache.spark.sql.types._
    def integral(df: DataFrame, c: String): Boolean =
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    require(integral(queries, qPk) && integral(corpus, cPk),
      s"viaAggregator requires integral pk columns (they ride the shuffle " +
        s"as longs); got $qPk: ${queries.schema(qPk).dataType.simpleString}, " +
        s"$cPk: ${corpus.schema(cPk).dataType.simpleString} — use the " +
        s"window path (viaAggregator = false) for non-integral pks")
  }

  /** Batch IVFADC — the multi-query composition of [[knnJoinIvf]] routing
    * with the [[ivfQuantizedSearch]] compressed scan: the full
    * nightly-retrieval shape at 100 TB (Q queries against a corpus whose
    * scan side is byte codes, touching only each query's nProbe cells).
    *
    * The query side never visits the driver: only the BATCH-INDEPENDENT
    * model state is broadcast (the PQ codebook or the SQ grid inside the
    * model's [[Quantizer.queryLut]] expression, the nCells·dim centroid
    * matrix as routing literals), and each query derives its own table
    * and probe cells executor-side, where its row lives — a 1M-query
    * batch costs the driver nothing. Routing stays an equi-join on `cell`
    * against the exploded (query_id, lut, cell) relation (query side
    * small → broadcast; huge → plain shuffle join, still fully
    * distributed); [[Quantizer.adcScoreLut]] reads each scored row's
    * table from the join side, so raw vectors appear nowhere in the scan
    * or the rank exchange. The exact re-rank re-scores each query's
    * `k * refine` ADC candidates: corpus vectors for the bounded
    * candidate pk set are fetched via broadcast semi-join, query vectors
    * re-attach by a query_id join, ranked per query. `refine = -1`
    * resolves to the model's certified depth (PQ 16, SQ8 2 — the
    * near-lossless grid reads 8x fewer raw vectors per query). With
    * `nProbe >= nCells` and `refine` deep enough this equals exact
    * [[knnJoin]] (spec-verified; q54/q88 oracle it). An empty query batch
    * yields an empty result. Result: `(query_id, cPk, score, rank)`;
    * integral pks required (they ride exchanges as longs). `indexed`
    * must carry `cell` AND the model's code column. */
  def knnJoinIvfQuantized(queries: DataFrame, indexed: DataFrame,
      centroids: Array[Array[Float]], model: Quantizer, qPk: String,
      cPk: String, vecCol: String, k: Int, nProbe: Int = -1,
      refine: Int = -1,
      exactSource: Option[(DataFrame, String)] = None): DataFrame = {
    val probe = resolveProbe(nProbe, centroids.length)
    val rf = resolveRefine(refine, model.certifiedRefine)
    requireIntegralPks(queries, qPk, indexed, cPk)
    val spark = indexed.sparkSession
    import spark.implicits._
    // executor-side query prep: the per-query table rides the shared
    // routing projection
    val probed = ivfRoute(queries, centroids, vecCol, probe,
      col(qPk).cast("long"), model.queryLut(col(vecCol)) -> "__lut")
    val scored = indexed.select(col(cPk), col("cell"), col(model.codeCol))
      .join(broadcastIfSmall(probed), Seq("cell"))
      .select($"query_id", col(cPk),
        model.adcScoreLut(col(model.codeCol), $"__lut").as("adc_score"))
    rankRefine(scored, queries, qPk, cPk, vecCol, k, rf, exactSource)
  }

  /** Shared tail of the batch compressed-retrieval paths: per-query rank
    * of the ADC scores; with an `exactSource`, keep `k * refine`
    * candidates and exact re-rank on re-attached vectors. `scored` must
    * carry `(query_id, cPk, adc_score)`. */
  private def rankRefine(scored: DataFrame, queries: DataFrame, qPk: String,
      cPk: String, vecCol: String, k: Int, refine: Int,
      exactSource: Option[(DataFrame, String)]): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"query_id")
      .orderBy(desc("adc_score"), col(cPk))
    exactSource match {
      case None =>
        scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= k)
          .withColumnRenamed("adc_score", "score")
      case Some((source, srcVec)) =>
        // bounded: Q * k * refine rows of two longs — materialized so the
        // frame's plan statistics are REAL (a lazy post-window frame
        // carries pessimistic defaults and [[broadcastIfSmall]] would
        // silently decline) and because it feeds both the vector fetch
        // and the re-rank join (the multi-reuse rule)
        val cand = scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= k * refine)
          .select($"query_id", col(cPk))
          .materialized
        // candidate vectors arrive via a semi-join on pk — broadcast when
        // the materialized stats confirm it's small, AQE's runtime join
        // choice otherwise; the corpus is never shuffled in the broadcast
        // case
        val vecs = source.select(col(cPk), col(srcVec).as("__cv"))
          .join(broadcastIfSmall(cand.select(col(cPk)).distinct()), Seq(cPk))
        // query vectors re-attach by query_id — the query relation is the
        // broadcast side; corpus vectors are unit-norm so dot == cosine
        val qv = queries.select(col(qPk).cast("long").as("query_id"),
          col(vecCol).as("__qv"))
        val rescored = cand.join(vecs, Seq(cPk))
          .join(broadcastIfSmall(qv), Seq("query_id"))
          .withColumn("score", cosineUnit($"__cv", $"__qv"))
          .select($"query_id", col(cPk), $"score")
        val wf = Window.partitionBy($"query_id")
          .orderBy(desc("score"), col(cPk))
        rescored.withColumn("rank", row_number().over(wf))
          .filter($"rank" <= k)
    }
  }

  /** Threshold similarity join (all pairs above `minScore`), query side
    * broadcast. */
  def thresholdJoin(queries: DataFrame, corpus: DataFrame, qPk: String,
      cPk: String, vecCol: String, minScore: Double): DataFrame = {
    val q = queries.select(col(qPk).as("query_id"), col(vecCol).as("__qv"))
    corpus.crossJoin(broadcast(q))
      .withColumn("score", cosineUnit(col(vecCol), col("__qv")))
      .filter(col("score") >= minScore)
      .drop("__qv", vecCol)
  }

  /** LSH-bucketed threshold join — the scale path of [[thresholdJoin]]
    * for when NEITHER side fits a broadcast (two 10^9-row embedding
    * tables): both relations are hashed with the SAME seeded hyperplane
    * family ([[graft.ops.Dedup.embeddingPairsLsh]]'s blocking applied
    * cross-relation), so only pairs sharing a (table, bucket) key ever
    * meet the equi-join. Ids-only discipline throughout: the sign
    * computation consumes vectors map-side and drops them before the
    * shuffle; candidates dedupe on (query_id, pk); vectors re-attach by
    * id for the exact cosine verify, which makes false positives
    * impossible — only recall is probabilistic (per-pair miss probability
    * (1-p1^planes)^tables with p1 = 1 - theta/pi; seeded family, so the
    * result is deterministic per (seed, data)). AQE skew-join splitting
    * handles hot buckets, as in the self-join case. */
  def thresholdJoinLsh(queries: DataFrame, corpus: DataFrame, qPk: String,
      cPk: String, vecCol: String, minScore: Double, planes: Int = 8,
      tables: Int = 8, seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    val rng = new scala.util.Random(seed)
    // one shared family: table t's planes drawn in order, both sides MUST
    // see identical planes or buckets would never collide
    val family = Array.fill(tables, planes)(
      Array.fill(dim)(rng.nextGaussian().toFloat))
    def bucketize(df: DataFrame, pk: String) = {
      val v = df.select(col(pk).as("id"), col(vecCol).as("v"))
        .materialized
      val b = (0 until tables).map { t =>
        val planeCols = family(t).map(p =>
          when(cosineUnit($"v", vecLit(p)) >= 0, "1").otherwise("0"))
        v.select($"id", lit(t).as("table"),
          concat(planeCols.toIndexedSeq: _*).as("bucket"))
      }.reduce(_ unionByName _)
      (v, b)
    }
    val (qv, qb) = bucketize(queries, qPk)
    val (cv, cb) = bucketize(corpus, cPk)
    val cand = qb.as("a").join(cb.as("b"),
        $"a.table" === $"b.table" && $"a.bucket" === $"b.bucket")
      .select($"a.id".as("query_id"), $"b.id".as("__cid"))
      .dropDuplicates("query_id", "__cid")
    cand
      .join(qv.select($"id".as("query_id"), $"v".as("__qv")), "query_id")
      .join(cv.select($"id".as("__cid"), $"v".as("__cv")), "__cid")
      .withColumn("score", cosineUnit($"__qv", $"__cv"))
      .filter($"score" >= minScore)
      .select($"query_id", $"__cid".as(cPk), $"score")
  }

  /** IVF with distributed KMeans (Lloyd) centroids — the principled build
    * path when the corpus is too large for a driver-side sample to
    * represent: every per-row step runs as Spark jobs; only the k centroid
    * vectors (k * dim floats) ever visit the driver.
    *
    * The fit runs on a DISTRIBUTED sample of ~`fitRowsPerCell` rows per
    * cell (never collected): centroid quality needs row density per cell,
    * not the whole corpus, so fitting ~32k sampled rows instead of 200M
    * costs per-iteration work proportional to the sample while the
    * resulting cells partition the full corpus identically in expectation.
    *
    * Each Lloyd iteration is ONE `treeAggregate` job over a cached
    * `RDD[Array[Float]]` with the current centroids broadcast: executors
    * accumulate per-cell (sum, count) locally and ship k*dim doubles per
    * partition — the one place the engine drops to an RDD, because the
    * loop re-runs the SAME compiled closure with only the broadcast
    * changing (a Column-expression formulation re-embeds the centroid
    * matrix as literals and pays a janino compile of ~k*dim constants per
    * iteration; MLlib's KMeans adds k-means|| init — itself rounds of
    * distributed re-sampling — plus `ml.Vector` conversion; both measured
    * 3-5x slower at modest k). Iteration stops early when no centroid
    * moves more than `tol` (squared L2).
    *
    * `totalHint` skips the corpus-count job when the caller already knows
    * the row count (Bench counts to materialize the cache; an ingest
    * pipeline knows its batch size) — at 100 TB that count is a full scan
    * saved. */
  def ivfBuildKMeans(corpus: DataFrame, pk: String, vecCol: String,
      nCells: Int = -1, maxIter: Int = 5, seed: Long = 42L,
      fitRowsPerCell: Int = 1024, tol: Double = 1e-4,
      totalHint: Option[Long] = None)
      : (DataFrame, Array[Array[Float]]) = {
    import graft.expressions.VectorExpressions.nearestCentroid
    import graft.functions.VectorFunctions.l2Normalize
    val total = totalHint.getOrElse(corpus.count())
    require(total > 0, "ivfBuildKMeans: empty corpus")
    // "unspecified" derives the cell count from the corpus size
    // ([[operatingPoint]]) — a fixed constant here is the measured
    // scale-collapse of RECALL_sf1 (16 cells at 2M rows = 125k-row cells)
    val wanted = if (nCells > 0) nCells else operatingPoint(total).nCells
    val cells = math.min(wanted.toLong, total).toInt
    val target = cells.toLong * fitRowsPerCell
    val sampled =
      if (total <= target) corpus
      else corpus.sample(withReplacement = false,
        // small over-draw so the sample rarely lands under target
        math.min(1.0, target.toDouble / total * 1.05), seed)
    val fit = sampled.select(col(vecCol))
      .rdd.map(_.getSeq[Float](0).toArray).persist()
    // Init (round 11): LAYOUT-INDEPENDENT candidate pool + deterministic
    // k-center seeding. The former head-of-partition pick was
    // deterministic only GIVEN a partitioning — any upstream exchange
    // re-rolled the centroid dice, and recall floors moved with them
    // (measured: RecallSpec floors swung 0.82–0.91 on an exchange-only
    // change). Two-stage replacement, both pure functions of the data:
    //   1. pool: the `poolTarget` rows with the smallest seeded 64-bit
    //      content hash — a uniform sample assembled by ONE bounded-heap
    //      treeAggregate (the k-smallest set is partitioning- and
    //      merge-order-independent), same single-job cost class as the
    //      old head pick;
    //   2. seeding: greedy farthest-point over the pool on the driver
    //      (Gonzalez 1985 — the deterministic 2-approx k-center
    //      heuristic whose spread kmeans++ randomizes), engaged while
    //      O(cells · pool · dim) is driver-affordable; above the cap the
    //      hash-ordered pool prefix IS the uniform sample.
    var cents: Array[Array[Float]] = {
      val d2Cap = 2048
      val poolTarget =
        if (cells <= d2Cap) math.max(256, math.min(cells * 8, 16384))
        else cells
      def vecHash(v: Array[Float]): Long = {
        // FNV-1a over the float bit patterns + murmur-style avalanche:
        // deterministic across JVMs/partitionings; ties only on
        // bit-identical vectors (harmless — duplicates make identical
        // centroid candidates either way)
        var h = seed ^ 0xcbf29ce484222325L
        var i = 0
        while (i < v.length) {
          h = (h ^ java.lang.Float.floatToIntBits(v(i))) * 0x100000001b3L
          i += 1
        }
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
        h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
        h ^ (h >>> 33)
      }
      type Heap = scala.collection.mutable.PriorityQueue[(Long, Array[Float])]
      val ord = Ordering.by[(Long, Array[Float]), Long](_._1) // max-heap
      def insert(h: Heap, e: (Long, Array[Float])): Heap = {
        if (h.size < poolTarget) h.enqueue(e)
        else if (e._1 < h.head._1) { h.dequeue(); h.enqueue(e) }
        h
      }
      val heap = fit.treeAggregate(new Heap()(ord))(
        seqOp = (h, v) => insert(h, (vecHash(v), v)),
        combOp = (a, b) => { b.foreach(insert(a, _)); a })
      val pool: Array[Array[Float]] =
        heap.toArray.sortBy(_._1).map(_._2) // ascending hash order
      if (cells > d2Cap || pool.length <= cells) pool.take(cells)
      else {
        // greedy farthest-point in cosine distance (vectors unit-norm):
        // start at the min-hash row, then repeatedly take the pool row
        // farthest from its nearest chosen centroid
        val n = pool.length
        val minDot = Array.fill(n)(Double.MinValue) // max dot to chosen
        val chosen = new Array[Array[Float]](cells)
        chosen(0) = pool(0)
        var c = 0
        while (c + 1 < cells) {
          val last = chosen(c)
          var best = 0; var bestDot = Double.MaxValue
          var i = 0
          while (i < n) {
            val d = dot(pool(i), last)
            if (d > minDot(i)) minDot(i) = d
            if (minDot(i) < bestDot) { bestDot = minDot(i); best = i }
            i += 1
          }
          c += 1
          chosen(c) = pool(best)
        }
        chosen
      }
    }
    val dim = cents.head.length
    val sc = corpus.sparkSession.sparkContext
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val bc = sc.broadcast(cents)
      val (sums, counts) = fit.treeAggregate(
        (Array.fill(cells)(new Array[Double](dim)), new Array[Long](cells)))(
        seqOp = { case ((s, n), v) =>
          val cs = bc.value
          var best = 0; var bestDot = Double.MinValue; var c = 0
          while (c < cs.length) {
            var d = 0.0; var i = 0
            while (i < dim) { d += cs(c)(i) * v(i); i += 1 }
            if (d > bestDot) { bestDot = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dim) { s(best)(i) += v(i); i += 1 }
          n(best) += 1
          (s, n)
        },
        combOp = { case ((s1, n1), (s2, n2)) =>
          var c = 0
          while (c < cells) {
            var i = 0
            while (i < dim) { s1(c)(i) += s2(c)(i); i += 1 }
            n1(c) += n2(c); c += 1
          }
          (s1, n1)
        })
      bc.destroy()
      // spherical k-means step: corpus vectors are unit-norm (engine
      // invariant, NB:209/376), so centroids are re-normalized each round
      // and the dot-argmax is a true cosine argmax. Empty cells keep
      // their previous centroid.
      moved = 0.0
      (0 until cells).foreach { c =>
        if (counts(c) > 0) {
          val nn = l2Normalize(
            sums(c).map(x => (x / counts(c)).toFloat))
          val d = cents(c).zip(nn)
            .map { case (a, b) => (a - b).toDouble * (a - b) }.sum
          moved = math.max(moved, d)
          cents(c) = nn
        }
      }
      iter += 1
    }
    fit.unpersist()
    val indexed = corpus.withColumn("cell",
      nearestCentroid(col(vecCol), cents))
    (indexed, cents)
  }

  /** A byte-code quantizer for the compressed scan — the "codes" half of
    * IVFADC (Jégou et al. 2011 §IV). [[PqModel]] (m bytes/row) and
    * [[ScalarQuantization.SqModel]] (dim bytes/row) are its two points on
    * the compression/recall curve; every quantized search path
    * ([[quantizedSearch]], [[ivfQuantizedSearch]], [[knnJoinIvfQuantized]])
    * is written once against this interface. */
  trait Quantizer extends Serializable {
    /** The code column [[SimilaritySearch.encode]] attaches (`pq_code` /
      * `sq_code`). */
    def codeCol: String
    /** Exact-rescore depth a `refine = -1` resolves to
      * ([[PqRefineCertified]] / [[SqRefineCertified]]). */
    def certifiedRefine: Int
    /** Vector column -> byte code. */
    def encode(vec: Column): Column
    /** Single-query ADC score over the codes; the query-side table is
      * computed once on the driver and embedded in the expression. */
    def adcScore(code: Column, query: Array[Float]): Column
    /** The per-query table as an expression over a query-vector column,
      * evaluated on executors (batch paths: no per-query driver state). */
    def queryLut(vec: Column): Column
    /** ADC score reading each row's table from a [[queryLut]] column. */
    def adcScoreLut(code: Column, lut: Column): Column
  }

  /** Product-quantization model: `codebooks(m)(k)` is the k-th codeword of
    * subspace m (Jégou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search"). A D-dim float vector encodes to `m` bytes — at
    * 100 TB of 768-dim embeddings (~3 TB of raw vectors per billion rows)
    * the 96-byte codes keep the scan working set ~32x smaller, and the
    * ADC scan never decompresses. */
  case class PqModel(codebooks: Array[Array[Array[Float]]])
      extends Quantizer {
    import graft.expressions.VectorExpressions
    def m: Int = codebooks.length
    def dim: Int = codebooks.map(_(0).length).sum
    def codeCol: String = "pq_code"
    def certifiedRefine: Int = PqRefineCertified
    def encode(vec: Column): Column =
      VectorExpressions.pqEncode(vec, codebooks)
    def adcScore(code: Column, query: Array[Float]): Column =
      VectorExpressions.pqAdcDot(code, lut(query))
    def queryLut(vec: Column): Column = VectorExpressions.pqLut(vec, codebooks)
    def adcScoreLut(code: Column, lut: Column): Column =
      VectorExpressions.pqAdcDotLut(code, lut)

    /** Query-side lookup table: `lut(m)(k) = dot(query_m, codebook(m)(k))`
      * — computed ONCE per query on the driver (m*ksub*dsub flops), then
      * broadcast inside the scoring expression. */
    def lut(query: Array[Float]): Array[Array[Double]] = {
      require(query.length == dim,
        s"pq lut: query dim ${query.length} != model dim $dim")
      var off = 0
      codebooks.map { book =>
        val dsub = book(0).length
        val t = book.map { cw =>
          var s = 0.0; var i = 0
          while (i < dsub) { s += query(off + i).toDouble * cw(i); i += 1 }
          s
        }
        off += dsub
        t
      }
    }
  }

  /** Train PQ codebooks: per-subspace k-means, ALL subspaces fitted in the
    * same pass — each Lloyd iteration is ONE `treeAggregate` over a cached
    * distributed sample (same discipline as [[ivfBuildKMeans]]: only
    * codebooks visit the driver, iteration runs a reused JVM closure with
    * the codebooks broadcast, assignment is argmin-L2 per subspace). */
  def pqTrain(corpus: DataFrame, vecCol: String, m: Int = 8,
      ksub: Int = 256, maxIter: Int = 5, seed: Long = 42L,
      fitRowsPerCodeword: Int = 256, tol: Double = 1e-6): PqModel = {
    require(ksub <= 256, s"pq codes are bytes: ksub $ksub > 256")
    val total = corpus.count()
    require(total > 0, "pqTrain: empty corpus")
    val k = math.min(ksub.toLong, total).toInt
    val target = k.toLong * fitRowsPerCodeword
    val sampled =
      if (total <= target) corpus
      else corpus.sample(withReplacement = false,
        math.min(1.0, target.toDouble / total * 1.05), seed)
    val fit = sampled.select(col(vecCol))
      .rdd.map(_.getSeq[Float](0).toArray).persist()
    val init = fit.takeSample(withReplacement = false, k, seed)
    val dim = init.head.length
    require(dim >= m, s"pqTrain: dim $dim < m $m")
    // subspace widths: dim/m, first (dim % m) subspaces one wider
    val widths = Array.tabulate(m)(i => dim / m + (if (i < dim % m) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    var books: Array[Array[Array[Float]]] = Array.tabulate(m) { sub =>
      Array.tabulate(k)(j =>
        java.util.Arrays.copyOfRange(init(j), offsets(sub), offsets(sub + 1)))
    }
    val sc = corpus.sparkSession.sparkContext
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val bc = sc.broadcast(books)
      val (sums, counts) = fit.treeAggregate(
        (Array.tabulate(m)(s => Array.fill(k)(new Array[Double](widths(s)))),
          Array.fill(m)(new Array[Long](k))))(
        seqOp = { case ((s, n), v) =>
          val bs = bc.value
          var sub = 0
          while (sub < m) {
            val book = bs(sub)
            val off = offsets(sub)
            val w = widths(sub)
            var best = 0; var bestD = Double.MaxValue; var j = 0
            while (j < book.length) {
              val cw = book(j)
              var d = 0.0; var i = 0
              while (i < w) {
                val diff = v(off + i).toDouble - cw(i); d += diff * diff; i += 1
              }
              if (d < bestD) { bestD = d; best = j }
              j += 1
            }
            var i = 0
            while (i < w) { s(sub)(best)(i) += v(off + i); i += 1 }
            n(sub)(best) += 1
            sub += 1
          }
          (s, n)
        },
        combOp = { case ((s1, n1), (s2, n2)) =>
          var sub = 0
          while (sub < m) {
            var j = 0
            while (j < k) {
              var i = 0
              while (i < widths(sub)) { s1(sub)(j)(i) += s2(sub)(j)(i); i += 1 }
              n1(sub)(j) += n2(sub)(j); j += 1
            }
            sub += 1
          }
          (s1, n1)
        })
      bc.destroy()
      moved = 0.0
      books = Array.tabulate(m) { sub =>
        Array.tabulate(k) { j =>
          if (counts(sub)(j) == 0) books(sub)(j) // keep empty cells
          else {
            val nn = sums(sub)(j).map(x => (x / counts(sub)(j)).toFloat)
            var d = 0.0; var i = 0
            while (i < nn.length) {
              val diff = (books(sub)(j)(i) - nn(i)).toDouble; d += diff * diff
              i += 1
            }
            moved = math.max(moved, d)
            nn
          }
        }
      }
      iter += 1
    }
    fit.unpersist()
    PqModel(books)
  }

  /** Attach the model's byte code column ([[Quantizer.codeCol]]). A
    * production corpus persists `(pk, code)` WITHOUT the raw vector — that
    * is the point. */
  def encode(corpus: DataFrame, vecCol: String, model: Quantizer): DataFrame =
    corpus.withColumn(model.codeCol, model.encode(col(vecCol)))

  /** Two-stage quantized search: (1) ADC scan over the byte codes —
    * map-only, `TakeOrderedAndProject` keeps `k * refine` candidates;
    * (2) exact re-rank — the candidate pk set (bounded, driver-safe) joins
    * back to `exactSource` as a BROADCAST pk lookup, so the refine stage
    * reads `k * refine` raw vectors, never the corpus. `refine = -1`
    * resolves to the model's certified depth: PQ needs 16, while SQ8's
    * near-lossless grid already covers the true top-k at 2. With `refine`
    * deep enough the result EQUALS exact search (spec-verified; q44/q59
    * oracle it against the q11 SQL). `exactSource = None` skips the
    * re-rank and returns ADC scores directly. */
  def quantizedSearch(encoded: DataFrame, model: Quantizer, pk: String,
      query: Array[Float], k: Int, refine: Int = -1,
      exactSource: Option[(DataFrame, String)] = None): DataFrame = {
    val rf = resolveRefine(refine, model.certifiedRefine)
    val candidates = encoded
      .withColumn("adc_score", model.adcScore(col(model.codeCol), query))
      .orderBy(desc("adc_score"), col(pk))
      .limit(k * rf)
    exactSource match {
      case None => candidates.drop(model.codeCol).limit(k)
      case Some((source, vecCol)) =>
        val cand = broadcast(candidates.select(col(pk)))
        source.join(cand, pk)
          .withColumn("score", cosineUnit(col(vecCol), vecLit(query)))
          .orderBy(desc("score"), col(pk))
          .limit(k)
          .drop(vecCol)
    }
  }

  /** IVFADC — IVF cell pruning composed with the quantized ADC scan
    * (Jégou et al. 2011 §IV, the Faiss `IVF<n>,PQ<m>` / `IVF<n>,SQ8`
    * structures; the reference's managed Vector Search index,
    * `NB:315-323`, is precisely such a composed ANN index). Three stages,
    * each touching strictly less data than the last:
    *   1. probe — rank the k·dim centroid matrix driver-side, keep the
    *      `nProbe` cells nearest the query (no cluster work at all);
    *   2. ADC — scan ONLY the probed cells' codes with the query table
    *      (~nProbe/nCells of the corpus, m or dim bytes/row instead of
    *      dim·4 B raw), `TakeOrderedAndProject` keeps `k * refine`
    *      candidates;
    *   3. refine — exact re-rank of the bounded candidate set via a
    *      broadcast pk lookup against `exactSource` (reads k·refine raw
    *      vectors, never the corpus).
    * At 100 TB this is THE ANN serving shape: the scan working set is
    * (nProbe/nCells)·code bytes per row and everything else is bounded.
    * `nProbe >= nCells` with `refine` deep enough provably equals exact
    * search (spec-verified; q51/q87 oracle the composition against q11's
    * plain SQL). `indexed` must carry `cell` AND the model's code
    * column. */
  def ivfQuantizedSearch(indexed: DataFrame, centroids: Array[Array[Float]],
      model: Quantizer, pk: String, query: Array[Float], k: Int,
      nProbe: Int = -1, refine: Int = -1,
      exactSource: Option[(DataFrame, String)] = None): DataFrame =
    quantizedSearch(
      indexed.filter(col("cell").isin(probeCells(query, centroids,
          resolveProbe(nProbe, centroids.length)): _*))
        .select(col(pk), col(model.codeCol)),
      model, pk, query, k, refine, exactSource)

  /** The `nProbe` cells whose centroids score highest against the query —
    * the driver-side probe ranking every single-query IVF path shares. */
  private def probeCells(query: Array[Float],
      centroids: Array[Array[Float]], nProbe: Int): Seq[Int] =
    centroids.indices.sortBy(i => -dot(query, centroids(i))).take(nProbe)

  /** IVF probe: score only rows in the `nProbe` cells closest to the query.
    * Cell pruning happens before any vector math touches the corpus. */
  def ivfSearch(indexed: DataFrame, centroids: Array[Array[Float]],
      pk: String, vecCol: String, query: Array[Float], k: Int,
      nProbe: Int = -1): DataFrame = {
    val cells = probeCells(query, centroids,
      resolveProbe(nProbe, centroids.length))
    indexed.filter(col("cell").isin(cells: _*))
      .withColumn("score", cosineUnit(col(vecCol), vecLit(query)))
      .orderBy(desc("score"), col(pk))
      .limit(k)
      .drop(vecCol)
  }

  /** IVF-routed late-interaction MaxSim (q109's serving shape at scale —
    * `NB:380-390` generalized to multi-vector docs): a doc is MANY chunk
    * vectors; its score is the max over its chunks' scores against the
    * query, and retrieval returns the top-k DOCS. Routing: the same cell
    * pruning as [[ivfSearch]] applied per CHUNK vector — only chunks in
    * the `nProbe` cells nearest the query are scored, everything else
    * never enters the dot product. Plan: pushed `cell IN (...)` filter
    * on the scan, one codegen dot per surviving chunk (map-only against
    * the broadcast query literal), map-side partial max per doc, one
    * short-key shuffle, TakeOrdered. The approximation is one-sided and
    * conservative in the same sense as IVF point search: a doc ranks by
    * the best chunk the probe SEES; `nProbe >= nCells` provably equals
    * the exact group-max (q111 oracles that equality against q109's
    * plain SQL; RecallSpec pins the operating point). */
  def maxSimSearch(indexed: DataFrame, centroids: Array[Array[Float]],
      docCol: String, vecCol: String, query: Array[Float], k: Int,
      nProbe: Int = -1): DataFrame = {
    val cells = probeCells(query, centroids,
      if (nProbe > 0) nProbe else maxSimProbeFor(centroids.length))
    indexed.filter(col("cell").isin(cells: _*))
      .withColumn("score", cosineUnit(col(vecCol), vecLit(query)))
      .groupBy(col(docCol))
      .agg(max(col("score")).as("score"))
      .orderBy(desc("score"), col(docCol))
      .limit(k)
  }

  /** An IVF operating point derived from corpus size — cell count,
    * probe count and exact-rescore depths as FUNCTIONS of `n` rather
    * than constants. */
  case class IvfOperatingPoint(nCells: Int, nProbe: Int,
      pqRefine: Int, sqRefine: Int)

  /** The data-derived default operating point for an `n`-row corpus.
    *
    * Fixed constants do not survive scale-up: RECALL_sf1 measured the
    * 32-cell / refine-16 sf0.1 defaults collapsing to ~0.25 recall on a
    * 2M-vector corpus, while this derived point restores the >= 0.9
    * floor. The rule (standard public IVF sizing guidance — e.g. the
    * FAISS index guidelines, which recommend `nlist` on the order of
    * `sqrt(N)` with `nprobe` chosen as a fraction of `nlist` for the
    * recall/cost trade):
    *
    *   - `nCells = 2^floor(log2(sqrt(n)))`, clamped to [16, 65536]:
    *     cells of ~sqrt(n) rows balance the two scan costs a probe
    *     pays (centroid argmax over nCells + member scan over
    *     n/nCells per cell).
    *   - `nProbe = max(4, nCells/8)`: a constant ~12.5% probe
    *     fraction, the fraction the sf0.1 recall floor was recorded
    *     at (4 of 32) — recall transfers across scales when the
    *     probed MASS fraction is held, not the probe count.
    *   - `pqRefine = 16`, `sqRefine = 2`: exact-rescore depths are a
    *     property of quantizer resolution vs within-cluster gap, not
    *     of n — they hold wherever neighbor gaps exceed 8-bit code
    *     resolution. Where the corpus is duplicate-dense they must
    *     instead scale with duplicate mass: `k*refine >= ~1.2x the
    *     near-duplicate cluster size`, or the compressed candidate
    *     stage ranks indistinguishable codes ~randomly (measured in
    *     RECALL_sf1's replicated-density envelope; the honest
    *     alternative at that density is the dedup family, not ranked
    *     retrieval).
    */
  def operatingPoint(n: Long): IvfOperatingPoint = {
    require(n > 0, "operatingPoint: empty corpus")
    val root = math.sqrt(n.toDouble)
    val cells = math.min(65536,
      math.max(16, Integer.highestOneBit(root.toInt.max(1))))
    IvfOperatingPoint(cells, probeFor(cells), PqRefineCertified,
      SqRefineCertified)
  }

  /** The certified exact-rescore depths — [[operatingPoint]]'s refine
    * fields for ANY n (resolution properties of the quantizer family, not
    * corpus-size ones; measured in RECALL_sf1). These are the single
    * source of truth behind every quantized serving surface's
    * `refine = -1` default (through [[Quantizer.certifiedRefine]]): round
    * 11 shipped the batch PQ join defaulting to half the certified depth
    * while the single-query path used the full one — a default-driven
    * batch retrieval refined at a depth no recall artifact covered. */
  val PqRefineCertified = 16
  val SqRefineCertified = 2

  /** The [[operatingPoint]] probe count for a built cell count: the
    * constant ~12.5% probe-mass fraction the recall floor transfers at. */
  def probeFor(nCells: Int): Int = math.max(4, nCells / 8)

  /** The derived probe count for LATE-INTERACTION ([[maxSimSearch]])
    * retrieval: ~25% probe mass, twice the point-search rate. A doc's
    * MaxSim score is decided by its best chunk — often an EDGE member of
    * its chunk cluster, not the centroid the router ranks — so the same
    * mass fraction that holds the point-search floor reads ~0.87 recall
    * on the replica-cluster corpus while the doubled rate clears the 0.9
    * floor (RecallSpec). The deeper probe is standard late-interaction
    * practice (multi-vector retrievers rank candidates per query token
    * at higher probe depths before the exact MaxSim re-score). */
  def maxSimProbeFor(nCells: Int): Int = math.max(4, nCells / 4)

  /** Resolve a caller's probe argument: explicit positive values pass
    * through; the `-1` sentinel (every `nProbe` default since round 11)
    * derives [[probeFor]] from the cell count ACTUALLY BUILT, so
    * "unspecified" can never mean a constant that collapses at scale —
    * RECALL_sf1 measured the old fixed defaults at ~0.25 recall on a
    * 2M-row corpus. */
  private[graft] def resolveProbe(nProbe: Int, nCells: Int): Int = {
    val p = if (nProbe > 0) nProbe else probeFor(nCells)
    require(p >= 1, s"nProbe $p < 1")
    p
  }

  /** Resolve a caller's refine argument: explicit positive values pass
    * through; the `-1` sentinel (every quantized `refine` default since
    * round 12) resolves to the certified depth for the quantizer family
    * ([[Quantizer.certifiedRefine]]) — the same
    * no-constant-defaults rule as [[resolveProbe]], so "unspecified" can
    * never mean a depth the recall artifact doesn't cover. */
  private[graft] def resolveRefine(refine: Int, certified: Int): Int = {
    val r = if (refine > 0) refine else certified
    require(r >= 1, s"refine $r < 1")
    r
  }
}
