package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recall-at-operating-point measurement for the ANN family.
  *
  * The correctness gate proves each approximate path EQUALS exact search
  * at full probe / deep refine (q44/q51/q54/q87/q88); what it does not
  * record is the quality actually delivered at the DEFAULT operating
  * settings a 100 TB corpus would run. Since round 10 those defaults are
  * DERIVED FROM CORPUS SIZE ([[graft.ops.SimilaritySearch.operatingPoint]])
  * — the sf1 run measured the fixed sf0.1 constants (32 cells, refine 16)
  * collapsing to ~0.25 recall at 2M vectors, which is the expected fate
  * of any constant operating point under a 100x scale-up. This main
  * measures recall@5 and recall@10 against the exact oracle for every
  * family at the derived point and writes ONE JSON artifact, asserting
  * the SURVEY §5.4 floor (>= 0.9, the LSH dedup recall floor) for each
  * row of the resolvable-regime corpus.
  *
  * Corpus: the sf embeddings table replicated `reps` times with a
  * deterministic per-replica, per-dimension perturbation (re-normalized,
  * so dot == cosine still holds). Unlike the bench's raw replication,
  * perturbation makes all vectors DISTINCT — every query has a tight
  * ~`reps`-vector neighborhood whose internal ranking the index must
  * resolve, which is exactly what makes recall a non-degenerate metric.
  * Ground truth is the exact aggregator kNN join.
  *
  * Scaled bases need one more ingredient: `spreadSigma`. The sf>=1
  * parquet is generated by replicating the sf0.1 table, so the base
  * contains byte-identical duplicate vectors — replicating THAT `reps`
  * times yields `dup_mult * reps`-vector degenerate clusters whose
  * internal rank gaps sit below 8-bit quantizer resolution, a
  * dedup-density corpus no compressed candidate stage can rank (the
  * measured sf1 envelope). A recall benchmark of a 10x corpus should be
  * 10x more resolvable CLUSTERS, not 10x denser ones, so `centers`
  * applies a deterministic per-vec_id identity offset (amplitude
  * `spreadSigma`, re-normalized) that turns each duplicate copy into its
  * own well-separated cluster center; queries are the spread centers
  * themselves (vec_id < nQueries), keeping ground truth home-clustered
  * and well-posed. `spreadSigma = 0` reproduces the r7 protocol exactly.
  */
object Recall {

  /** Cluster centers: the base table with a deterministic per-vec_id
    * identity offset (see object scaladoc). `spreadSigma = 0` returns
    * the base unchanged (bit-compatible with the r7 protocol). */
  def centers(spark: SparkSession, sfDir: String,
      spreadSigma: Double): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // the offset must be iid-ish ACROSS DIMENSIONS (hash-keyed phase per
    // (vec_id, dim)): a single-frequency sinusoid in the dim index puts
    // every offset on one 1-D phase circle (off_a . off_b ~ |off|^2 *
    // cos(phase_a - phase_b)), where near-phase foreign centers sit as
    // close to a query as its own cluster members — measured as a 0.75
    // pq recall at test scale before this fix
    if (spreadSigma == 0.0) base
    else base
      .withColumn("__c", transform(col("embedding"), (x, i) =>
        x.cast("double") + lit(spreadSigma) *
          sin(pmod(xxhash64(col("vec_id"), i), lit(6283L)).cast("double")
            / 1000.0)))
      .withColumn("__n",
        sqrt(aggregate(col("__c"), lit(0.0), (a, x) => a + x * x)))
      .select(col("vec_id"),
        transform(col("__c"), x => (x / col("__n")).cast("float"))
          .as("embedding"))
  }

  /** Distinct-vector scaled corpus: (vec_id, embedding), unit-norm
    * floats, `base_rows * reps` rows. `sigma` sets the per-dimension
    * noise, i.e. how fine the within-cluster rank gaps are — see
    * [[measure]] on why that choice IS the benchmark. */
  def perturbedCorpus(spark: SparkSession, sfDir: String,
      reps: Int, sigma: Double, spreadSigma: Double = 0.0): DataFrame = {
    val base = centers(spark, sfDir, spreadSigma)
    base
      .crossJoin(spark.range(reps).select(col("id").as("rep")))
      // exchange BEFORE the perturb math: the crossJoin streams the
      // single-partition parquet side, so without this the ~dim sins per
      // row below all run on ONE task (measured: the 2M-row corpus spent
      // minutes single-threaded while 31 cores idled). Content-keyed so
      // the layout — and the KMeans head-pick init downstream — is a
      // deterministic function of the data, not of input file splits
      .repartition(32, col("vec_id"), col("rep"))
      .withColumn("nid", col("vec_id") * reps + col("rep"))
      .withColumn("__p", transform(col("embedding"), (x, i) =>
        x.cast("double") + lit(sigma) *
          sin(col("nid").cast("double") * 0.37 + i.cast("double") * 1.7)))
      .withColumn("__n",
        sqrt(aggregate(col("__p"), lit(0.0), (a, x) => a + x * x)))
      .select(col("nid").as("vec_id"),
        transform(col("__p"), x => (x / col("__n")).cast("float"))
          .as("embedding"))
  }

  val allFamilies: Set[String] = Set("ivf", "pq", "sq", "ivfadc", "ivfsq")

  /** Measure recall@5/@10 for each family in `families` at the given
    * operating point. Returns (familyName -> (recall@5, recall@10)) in
    * insertion order.
    *
    * `sigma` is the benchmark's difficulty dial, and the honest setting
    * depends on what the corpus MEANS:
    *   - 0.1: every query sits in a tight ~`reps`-vector cluster whose
    *     within-cluster score gaps (~1e-2) are REAL distinctions, well
    *     above SQ8's quantization resolution (~1.5e-3 dot error at this
    *     dim) — the ranked-retrieval regime the defaults must serve. The
    *     0.9 floor is asserted here.
    *   - 0.02 (or a duplicated base with `spreadSigma = 0`):
    *     within-cluster gaps sink BELOW the quantizer's resolution — the
    *     members are indistinguishable to any 8-bit code, and
    *     compressed-scan candidate stages rank them ~randomly. That is a
    *     DEDUP-density corpus: the right operator there is the dedup
    *     family, not ranked retrieval — recorded as the documented
    *     operating envelope, not a floor breach (unless `refine` is
    *     raised to cover the duplicate mass — see the deep-refine demo
    *     in [[main]]). */
  def measure(spark: SparkSession, sfDir: String, reps: Int,
      nQueries: Int, sigma: Double, nCells: Int = -1, nProbe: Int = -1,
      pqRefine: Int = -1, sqRefine: Int = -1, spreadSigma: Double = 0.0,
      families: Set[String] = allFamilies)
      : Seq[(String, (Double, Double))] = {
    import graft.ops.{ScalarQuantization, SimilaritySearch}
    // -1 sentinels resolve to the certified depths, same rule as every
    // serving surface (round 12): the floor gates the no-args defaults
    val pqRef = SimilaritySearch.resolveRefine(pqRefine,
      SimilaritySearch.PqRefineCertified)
    val sqRef = SimilaritySearch.resolveRefine(sqRefine,
      SimilaritySearch.SqRefineCertified)
    val k = 10
    val corpus = perturbedCorpus(spark, sfDir, reps, sigma, spreadSigma)
      .repartition(32).persist()
    val n = corpus.count()
    // unspecified geometry measures the SERVING DEFAULTS — since round 11
    // those derive from corpus size (the fixed 32/4 constants this
    // harness measured collapsing at 2M rows are gone from every default)
    val cells = if (nCells > 0) nCells
      else SimilaritySearch.operatingPoint(n).nCells
    val probe = SimilaritySearch.resolveProbe(nProbe, cells)
    val queries = centers(spark, sfDir, spreadSigma)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")).persist()
    val queryVecs = queries.orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

    def topkOf(df: DataFrame): Map[Long, Seq[Long]] =
      df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
          col("rank"))
        .collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq)
        .toMap
    val exact = topkOf(SimilaritySearch.knnJoin(queries, corpus, "vec_id",
      "vec_id", "embedding", k, viaAggregator = true))

    val needIvf = (families & Set("ivf", "ivfadc", "ivfsq")).nonEmpty
    val needPq = (families & Set("pq", "ivfadc")).nonEmpty
    val needSq = (families & Set("sq", "ivfsq")).nonEmpty

    // one shared IVF assignment (the composed families reuse its cells)
    val (indexed, cents) =
      if (needIvf) {
        val (ix, cs) = SimilaritySearch.ivfBuildKMeans(corpus, "vec_id",
          "embedding", cells, totalHint = Some(n))
        val p = ix.persist(); p.count(); (p, cs)
      } else (null, Array.empty[Array[Float]])
    val pqModel = if (needPq) SimilaritySearch.pqTrain(corpus, "embedding",
      m = 16, ksub = 32) else null
    val sqModel = if (needSq)
      ScalarQuantization.sqTrain(corpus, "embedding") else null
    // (pk, code) for the plain families, (pk, cell, code) for the composed
    def encoded(family: String, base: DataFrame,
        model: SimilaritySearch.Quantizer, cols: String*): DataFrame =
      if (!families(family)) null
      else SimilaritySearch.encode(base, "embedding", model)
        .select((("vec_id" +: cols) :+ model.codeCol).map(col): _*).persist()
    val pqEncoded = encoded("pq", corpus, pqModel)
    val ivfpqEncoded = encoded("ivfadc", indexed, pqModel, "cell")
    val sqEncoded = encoded("sq", corpus, sqModel)
    val ivfsqEncoded = encoded("ivfsq", indexed, sqModel, "cell")

    // single-query families loop the query batch driver-side (their API is
    // the serving shape); batch families run as one job
    def perQuery(f: Array[Float] => DataFrame): Map[Long, Seq[Long]] =
      queryVecs.map { case (qid, qv) =>
        qid -> f(qv).select(col("vec_id").cast("long"))
          .collect().map(_.getLong(0)).toSeq
      }.toMap
    val src = Some((corpus, "embedding"))
    val approx: Seq[(String, Map[Long, Seq[Long]])] = Seq(
      "ivf" -> (() => s"ivf_nprobe$probe" ->
        topkOf(SimilaritySearch.knnJoinIvf(queries, indexed, cents,
          "vec_id", "vec_id", "embedding", k, probe))),
      "pq" -> (() => s"pq_refine$pqRef" ->
        perQuery(qv => SimilaritySearch.quantizedSearch(pqEncoded, pqModel,
          "vec_id", qv, k, refine = pqRef, exactSource = src))),
      "sq" -> (() => s"sq_refine$sqRef" ->
        perQuery(qv => SimilaritySearch.quantizedSearch(sqEncoded, sqModel,
          "vec_id", qv, k, refine = sqRef, exactSource = src))),
      "ivfadc" -> (() => s"ivfadc_nprobe${probe}_refine$pqRef" ->
        topkOf(SimilaritySearch.knnJoinIvfQuantized(queries, ivfpqEncoded,
          cents, pqModel, "vec_id", "vec_id", "embedding", k, probe,
          refine = pqRef, exactSource = src))),
      "ivfsq" -> (() => s"ivfsq_nprobe${probe}_refine$sqRef" ->
        topkOf(SimilaritySearch.knnJoinIvfQuantized(queries, ivfsqEncoded,
          cents, sqModel, "vec_id", "vec_id", "embedding", k, probe,
          refine = sqRef, exactSource = src))))
      .collect { case (fam, run) if families(fam) => run() }

    def recallAt(got: Map[Long, Seq[Long]], at: Int): Double = {
      val per = exact.keys.toSeq.map { q =>
        val truth = exact(q).take(at).toSet
        val found = got.getOrElse(q, Seq.empty).take(at).toSet
        (truth & found).size.toDouble / at
      }
      per.sum / per.size
    }
    val out = approx.map { case (name, got) =>
      name -> (recallAt(got, 5), recallAt(got, 10))
    }
    (Seq(corpus, queries) ++
      Seq(indexed, pqEncoded, ivfpqEncoded, sqEncoded, ivfsqEncoded)
        .filter(_ != null)).foreach(_.unpersist())
    out
  }

  /** Recall@5/@10 of IVF-routed MaxSim ([[graft.ops.SimilaritySearch
    * .maxSimSearch]]) at the (nProbe, nCells) operating point, against
    * the exact doc-level group-max. The perturbed corpus doubles as a
    * natural multi-vector corpus: each base vector's `reps` replicas are
    * the "chunks" of one doc (`doc_id = vec_id div reps`) — docs have
    * many near-identical chunks plus the cluster's internal spread,
    * which is exactly the late-interaction shape (many chunk vectors, a
    * few of them responsible for the doc's rank). Both sides run as ONE
    * batch job each: the query batch broadcasts (it is tiny), scores are
    * a codegen dot per (chunk, query), group-max per (query, doc), then
    * a per-query top-k window — the routed side additionally joins a
    * driver-computed (query, probe-cell) table so only probed chunks are
    * scored, mirroring the per-query `cell IN` pruning of the serving
    * API. */
  def maxSimRecall(spark: SparkSession, sfDir: String, reps: Int,
      nQueries: Int, sigma: Double, nCells: Int = -1, nProbe: Int = -1,
      spreadSigma: Double = 0.0): (Double, Double) = {
    import graft.ops.SimilaritySearch
    import graft.functions.VectorFunctions.{cosineUnit, dot}
    import spark.implicits._
    val k = 10
    val corpus = perturbedCorpus(spark, sfDir, reps, sigma, spreadSigma)
      .withColumn("doc_id", expr(s"vec_id div $reps"))
      .repartition(32).persist()
    val n = corpus.count()
    val queries = centers(spark, sfDir, spreadSigma)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
      .persist()
    val queryVecs = queries.orderBy("query_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

    def topDocs(chunksScored: DataFrame): Map[Long, Seq[Long]] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("score"), col("doc_id"))
      chunksScored
        .groupBy(col("query_id"), col("doc_id"))
        .agg(max(col("score")).as("score"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("query_id").cast("long"), col("doc_id").cast("long"),
          col("rnk"))
        .collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq)
        .toMap
    }
    val exact = topDocs(corpus.crossJoin(broadcast(queries))
      .withColumn("score", cosineUnit(col("embedding"), col("__qv"))))

    val cells = if (nCells > 0) nCells
      else SimilaritySearch.operatingPoint(n).nCells
    val (ix, cents) = SimilaritySearch.ivfBuildKMeans(corpus, "vec_id",
      "embedding", cells, totalHint = Some(n))
    // late-interaction default: the deeper maxSim probe rate (~25% mass
    // — see SimilaritySearch.maxSimProbeFor on why edge-chunk scoring
    // needs twice the point-search fraction)
    val probe = if (nProbe > 0) nProbe
      else SimilaritySearch.maxSimProbeFor(cents.length)
    val indexed = ix.persist()
    indexed.count()
    val probed = queryVecs.toSeq.flatMap { case (qid, qv) =>
      cents.indices.sortBy(i => -dot(qv, cents(i))).take(probe)
        .map(c => (qid, c))
    }.toDF("query_id", "cell")
    val routed = topDocs(indexed
      .join(broadcast(probed), Seq("cell"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("score", cosineUnit(col("embedding"), col("__qv"))))

    def recallAt(at: Int): Double = {
      val per = exact.keys.toSeq.map { q =>
        val truth = exact(q).take(at).toSet
        val found = routed.getOrElse(q, Seq.empty).take(at).toSet
        (truth & found).size.toDouble / at
      }
      per.sum / per.size
    }
    val out = (recallAt(5), recallAt(10))
    Seq(corpus, queries, indexed).foreach(_.unpersist())
    out
  }

  /** `runMain graft.Recall [out=RECALL_r7.json] [sf=DIR] [reps=100]
    * [queries=32]` — writes the artifact, then asserts the floor. */
  def main(args: Array[String]): Unit = {
    import graft.ops.SimilaritySearch
    val argMap = args.flatMap { a =>
      a.split("=", 2) match { case Array(x, v) => Some(x -> v); case _ => None }
    }.toMap
    val sfDir = argMap.getOrElse("sf",
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val out = argMap.getOrElse("out", "RECALL_r7.json")
    val reps = argMap.getOrElse("reps", "100").toInt
    val nQueries = argMap.getOrElse("queries", "32").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def famJson(results: Seq[(String, (Double, Double))]): String =
      results.map { case (name, (r5, r10)) =>
        f""""$name%s":{"recall_at_5":$r5%.4f,"recall_at_10":$r10%.4f}"""
      }.mkString("{", ",", "}")

    val baseDf = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val baseRows = baseDf.count()
    val baseDistinct = baseDf.select("embedding").distinct().count()
    val dupMult = math.max(1L, baseRows / math.max(1L, baseDistinct))
    val corpusRows = baseRows * reps
    val op = SimilaritySearch.operatingPoint(corpusRows)
    val k = 10
    // spread only where it is needed for well-posedness (a duplicated
    // base's byte-identical copies must become distinct resolvable
    // centers); a distinct base keeps its raw embedding geometry so floor
    // rows stay comparable to the r7-protocol artifacts (ADVICE r10)
    val spread = if (dupMult > 1) 0.5 else 0.0

    // the floor corpus: spread centers (scale-honest geometry — see the
    // object scaladoc), resolvable within-cluster gaps, DERIVED operating
    // point. maxsim joins the family table at the same point.
    val msProbe = SimilaritySearch.maxSimProbeFor(op.nCells)
    val floorFams = measure(spark, sfDir, reps, nQueries, sigma = 0.1,
      op.nCells, op.nProbe, op.pqRefine, op.sqRefine,
      spreadSigma = spread) :+
      (s"maxsim_nprobe$msProbe" -> maxSimRecall(spark, sfDir, reps,
        nQueries, sigma = 0.1, op.nCells, msProbe, spreadSigma = spread))

    // the envelope corpus: dedup-density clusters below 8-bit resolution.
    // On a duplicated base that is the UNSPREAD replicated corpus itself
    // (dup_mult * reps degenerate clusters); on a distinct base it is the
    // sigma = 0.02 corpus (the r7 formulation).
    val envSigma = if (dupMult > 1) 0.1 else 0.02
    val envelope = measure(spark, sfDir, reps, nQueries, sigma = envSigma,
      op.nCells, op.nProbe, op.pqRefine, op.sqRefine, spreadSigma = 0.0)

    // deep-refine demo (duplicated base only): raising the compressed
    // candidate depth to cover the duplicate mass (k*refine >= ~2x the
    // dup_mult*reps cluster size — the headroom absorbs ADC-noise
    // interleaving of foreign codes) recovers the floor WITHOUT
    // resolvable geometry — the serving-side answer when a
    // duplicate-dense corpus must be searched as-is (rescore cost:
    // k*refine of n raw reads).
    val demoRefine = Integer.highestOneBit(
      math.max(1, math.ceil(dupMult * reps * 2.0 / k).toInt) * 2 - 1)
    val demo = if (dupMult > 1)
      measure(spark, sfDir, reps, nQueries, sigma = 0.1,
        op.nCells, op.nProbe, pqRefine = demoRefine, spreadSigma = 0.0,
        families = Set("pq"))
    else Seq.empty

    val envName =
      if (dupMult > 1) "replicated_density_envelope" else "dedup_density_envelope"
    val envNote =
      if (dupMult > 1)
        s"unspread replication-scaled base: each of $baseDistinct distinct vectors appears $dupMult x, so the corpus forms ${dupMult * reps}-vector clusters whose internal rank gaps sit below 8-bit quantizer resolution — compressed candidate stages rank members ~randomly; at this density the right operator is dedup, not ranked retrieval (or refine scaled to the duplicate mass: see deep_refine_demo)"
      else
        "sigma=0.02 clusters: within-cluster gaps sit below 8-bit quantizer resolution, so compressed candidate stages rank members ~randomly; at this density the right operator is dedup, not ranked retrieval"
    val demoJson = if (demo.nonEmpty)
      s""","deep_refine_demo":${famJson(demo)}""" else ""
    val json =
      f"""{"corpus_rows":$corpusRows%d,"queries":$nQueries%d,"base_rows":$baseRows%d,"base_distinct":$baseDistinct%d,"dup_multiplicity":$dupMult%d,"spread_sigma":$spread%.2f,"operating_point":{"nCells":${op.nCells}%d,"nProbe":${op.nProbe}%d,"pq_refine":${op.pqRefine}%d,"sq_refine":${op.sqRefine}%d,"rule":"derived from corpus size: nCells=pow2(sqrt(n)) in [16,65536], nProbe=nCells/8 (constant ~12.5%% probe fraction) - SimilaritySearch.operatingPoint"},"floor":0.9,"families":${famJson(floorFams)}%s,"$envName%s":{"note":"$envNote%s","families":${famJson(envelope)}%s$demoJson%s},"sf":"$sfDir%s"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(json)
    val below = (floorFams ++ demo).filter { case (_, (r5, r10)) =>
      r5 < 0.9 || r10 < 0.9 }
    require(below.isEmpty,
      s"recall floor 0.9 breached: ${below.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
