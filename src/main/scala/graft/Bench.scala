package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness: runs the headline queries against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},...}`.
  *
  * Self-adjudicating design (a contended machine shows up in the artifact
  * itself, instead of needing a re-run to clear):
  *   - every query is timed `REPS` times after one untimed warmup;
  *     `queries` reports the per-query MIN (least contention-sensitive) and
  *     `queries_median` the median — a large median/min spread means noisy
  *     neighbors, not slow code;
  *   - two code-independent machine sentinels (pure-CPU hash loop and a
  *     fixed 32-partition shuffle) run before and after the query block.
  *     Their values depend only on the machine; compare against the
  *     `sentinel` block recorded in BASELINE.md §(c) — if the sentinels are
  *     k x baseline, the machine is k x slower and query times must be read
  *     through that lens;
  *   - every headline rep block (and every single-timing dedup row) is
  *     additionally BRACKETED by a ~0.2s cpu+par probe pair, emitted
  *     per-query under `probes` — run-edge sentinels cannot see a mid-run
  *     contention burst, and a uniformly slow block poisons min AND median
  *     (round-5 finding). A block whose probe was out of band is re-run
  *     once after the full first pass (`block_retried` in the JSON).
  *
  * Each query is forced end-to-end with a `noop`-format write (full
  * computation, no disk) — `count()` would let Catalyst prune the very
  * columns being benchmarked.
  *
  * `SPARK_GRAFT_BENCH_ONLY=q15_jaccard_pairs,q20_minhash_pairs` restricts
  * the run for local iteration; `SPARK_GRAFT_BENCH_REPS` overrides REPS.
  */
object Bench {

  /** Headline subset: the queries whose shape matters at 100 TB —
    * scan-agg, pushdown scan, shuffle join, top-k, distinct, window,
    * event-time agg, vector search family, dedup family, text metrics,
    * end-to-end semantic search. */
  val headline: Seq[String] = Seq(
    "q01_agg_pricing", "q02_filter_pushdown", "q03_join_agg",
    "q04_topk_orders", "q05_window_rank", "q06_distinct_agg",
    "q09_json_events", "q10_hourly_events",
    "q11_vec_topk", "q12_knn_join", "q13_embed_dedup_pairs",
    "q15_jaccard_pairs", "q16_text_quality", "q18_fingerprint",
    "q20_minhash_pairs", "q21_simhash_pairs", "q23_semantic_topk",
    "q25_hybrid",
    // round-3 additions (new anchors — no BASELINE rows before r03):
    // as-of merge join, span dedup, tf-idf, sessionization, corpus pipeline
    "q36_asof_join", "q39_span_dedup", "q41_tfidf_terms",
    "q42_sessionize", "q43_corpus_pipeline", "q45_decontaminate",
    // round-4 additions (new anchors): z-order rewrite+scan, bucketed
    // write+join — the layout queries time the WRITE cost the layouts
    // repay at read/join time
    "q50_zorder_scan", "q53_bucket_join",
    // round-4 continuation additions (new anchors): inverted index,
    // funnel windows, MG sketch, snapshot diff
    "q69_postings", "q70_funnel", "q71_heavy_hitters", "q76_diff",
    // round-5 additions (new anchors): the streaming runtime as
    // throughput rows — each runs a REAL readStream query to completion
    // (AvailableNow drain incl. source listing, state store, sink);
    // q85 excluded (its join result is driver-memory-heavy at sf0.1)
    "q82_stream_hourly", "q84_stream_sessionize", "q86_stream_dedup",
    // post-task-list r5: continuous retrieval (stream-static cell join +
    // bounded vec_topk state, AvailableNow drain) + streaming heavy
    // hitters (one MG sketch buffer as the whole state store)
    "q89_stream_retrieval", "q90_stream_heavy_hitters",
    // graph family: basket pair mining + degree-ordered triangle count
    // (the wedge join is the O(m^1.5) candidate bound under test) +
    // 5-iteration PageRank (per-iteration O(m) contribution shuffle) +
    // the one-pass multi-granularity rollup
    "q91_copurchase", "q92_triangles", "q93_rollup", "q94_pagerank",
    // constraint suite (one-pass checks + keys-only FK anti joins) and
    // SCD2 change-point compaction (one key shuffle, stacked windows)
    "q95_constraints", "q96_scd2",
    // link prediction: per-edge neighborhood jaccard via the wedge join
    "q97_edge_jaccard",
    // association rules (basket metrics) + Markov transition matrix +
    // the top-3-per-item recommendation serving table
    "q98_association_rules", "q99_transitions", "q100_recommend",
    // cohort retention triangle (distinct user-week collapse) and the
    // 2h/1h sliding-window aggregation (overlap generator)
    "q101_cohorts", "q102_sliding_windows",
    // CDC merge apply (keys-only anti join + map-side union)
    "q103_cdc_merge",
    // round-6 addition (new anchor): entity-key fuzzy match — deletion-
    // neighborhood signature join + levenshtein verify over 150k names
    "q106_fuzzy_names",
    // round-7 additions (new anchors): bigram LM scoring (map-side bigram
    // gen + one (w1,w2) fit shuffle) and keep-best canonical dedup (q15
    // pairs + CC + per-cluster argmax window). q113's tf-idf neighbor
    // join is NOT anchored on the fixture (its 31-term vocabulary makes
    // the posting join ~all-pairs, 448M candidates at sf0.1 — a fixture
    // artifact, not the operator's shape); its scale row runs on the
    // large-vocab synthetic corpus as x_tfidf_50k
    "q114_bigram_lm", "q115_keep_best",
    // round-7 continuation additions (new anchors): count-min sketch
    // build + probe (two token-explode passes: one 256 KiB-state sketch
    // reduce, one exact top-20 pick), cross-relation jaccard join (the
    // eval-vs-train R-S prefix filter; small left, 101x larger right),
    // normalize-then-hash dedup (map-only regex rewrite + 16-byte-key
    // shuffle). q121/q122/q123 are scan-trivial — oracled, not anchored
    "q118_cms_freq", "q119_cross_jaccard", "q120_norm_dedup",
    // the round's two iterative operators as anchors: BPE merge learning
    // (8 vocab-bounded pair-count rounds) and k-core coreness (h-index
    // fixpoint to convergence on the co-purchase graph)
    "q127_bpe_merges", "q130_coreness",
    // round-7 second-continuation additions (new anchors): the round's
    // three iterative/corpus-shaped operators — BPE APPLICATION (learn 8
    // merges, then the two-exchange encode of the whole corpus),
    // 4-round synchronous label propagation (per round: one edge join +
    // two partial aggregates), and 3-iteration HITS (two edge joins +
    // two norm broadcasts per round). q134/q135/q136/q138 are
    // scan-trivial at sf0.1 — oracled, not anchored
    "q132_bpe_encode", "q133_label_prop", "q137_hits")

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Cumulative stop-the-world GC milliseconds across all collectors —
    * deltas around a timing attribute wall-time to collection pressure. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  private def heapUsedMb(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed >> 20

  /** Calibrated §c4 machine-probe floors for THIS box class (BASELINE
    * §c4/§c5: cpu 0.13 s, par 0.08-0.10 s). One definition shared by the
    * warmup gate and the in-run retry band references — they were
    * duplicated literals (ADVICE r13). A slower machine class would burn
    * the full 90 s gate on EVERY invocation (solo one-row adjudication
    * runs included): override there via SPARK_GRAFT_PROBE_FLOOR_CPU /
    * SPARK_GRAFT_PROBE_FLOOR_PAR (seconds). */
  private val cpuProbeFloor: Double =
    sys.env.get("SPARK_GRAFT_PROBE_FLOOR_CPU").map(_.toDouble).getOrElse(0.13)
  private val parProbeFloor: Double =
    sys.env.get("SPARK_GRAFT_PROBE_FLOOR_PAR").map(_.toDouble).getOrElse(0.10)

  /** JIT code-cache occupancy (MB used across the CodeHeap pools). Run-end
    * sentinel since round 4; also recorded per rep on the 50k dedup rows
    * (VERDICT r13 task 2: correlate codecache displacement with the
    * in-suite jaccard residual). */
  private def codeCacheUsedMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  private def med(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** One rep of the pure-CPU sentinel — also used as the probe behind the
    * rep-retry gate (a slow rep asks the MACHINE whether it was contended
    * before being re-run). */
  private def cpuSentinelOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    timed {
      // modulo keeps the ANSI-mode long sum bounded (2e8 * 1e6 << 2^63)
      spark.range(0, 200000000L, 1, 32)
        .select(sum(xxhash64(col("id")) % 1000000L).as("h")).head()
    }
  }

  /** One rep of the raw 32-thread JVM burn: effective PARALLEL capacity,
    * no Spark in the way. Round-4 finding: this box class can run ~1.6x
    * slower on sustained 32-way work while the 1-second Spark sentinels
    * read near the good band (vCPU overcommit) — long single-timing rows
    * (the 50k dedup family) track THIS number, not cpu_min. */
  private def parSentinelOnce(): Double = timed {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val threads = (0 until 32).map { t =>
      new Thread(() => {
        var s = 0L; var i = 0L
        while (i < 150000000L) { s += i ^ t; i += 1 }
        sink.addAndGet(s)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    require(sink.get() != 0L)
  }

  /** Per-block machine probe: one cpu + one par sentinel rep (~0.2s in the
    * good band). Round-5 finding (VERDICT "What's wrong" #1): the
    * run-start/run-end sentinels cannot adjudicate a MID-RUN contention
    * burst — a uniformly slow query block records poisoned medians AND
    * mins between clean end-of-run sentinels, and the rep-retry only
    * fires on a single rep >3x the running min. These probes bracket every
    * headline rep block so each row carries its own machine context. */
  private def probeOnce(spark: SparkSession): (Double, Double) =
    (cpuSentinelOnce(spark), parSentinelOnce())

  /** Flush dirty pages and return the flush wall — the round-13 finding
    * behind every "probe-clean but 1.1-2x over band" reading since §c12:
    * a heavy block writes GBs of shuffle spill, the kernel flushes those
    * dirty pages DURING the next timed region, and the cpu/par probes
    * cannot see IO contention. Solo x_cold_q92 at sf1 read 41.6-87.4 s
    * across fresh JVMs (probes clean, gc <= 1 s) and 31.5/33.4/31.8 s
    * with a sync between runs. Called at block starts so each block pays
    * its PREDECESSOR's flush before its timed region, bounded and
    * recorded, instead of absorbing it mid-measurement by lottery. The
    * wall IS the io-probe: a multi-second sync names the dirty-data
    * backlog the cpu sentinels missed. */
  private def syncDisk(): Double =
    try timed(new ProcessBuilder("sync").start().waitFor())
    catch { case _: Throwable => -1.0 }

  /** Per-row self-adjudication numbers (gc seconds, heap floor,
    * candidates/doc, fixpoint round walls). Rounds 4-8 printed these to
    * stderr, which the shipped artifact never carried — every contested
    * drift row stayed contested for exactly that reason (VERDICT r8 #2).
    * Emitted as `row_stats` in bench_full.json. */
  private val rowStats = scala.collection.mutable.LinkedHashMap[
    String, scala.collection.mutable.LinkedHashMap[String, Double]]()
  private def recordStat(tag: String, key: String, v: Double): Unit =
    synchronized {
      rowStats.getOrElseUpdate(tag,
        scala.collection.mutable.LinkedHashMap[String, Double]()) += (key -> v)
    }

  /** Job-constant probe: 10 sequential TINY two-stage jobs (a 10k-row
    * 8-partition shuffle — all scheduler/listener/codegen constant, no
    * data). Short-stage fixpoint rows (q130, the 50k dedup family) read
    * 1.3-3.5x their isolated anchors in a hot suite JVM (§c12/§c21/r8
    * q130); this probe, run at suite start, middle and end, turns that
    * "job-constant inflation" from a recurring per-row argument into a
    * measured curve in the artifact. Returns seconds per job. */
  private def jobConstProbe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    timed {
      (1 to 10).foreach { _ =>
        spark.range(0, 10000, 1, 8)
          .groupBy((col("id") % 8).as("k")).agg(count(lit(1)).as("n"))
          .select(sum(col("n"))).head()
      }
    } / 10
  }

  /** Machine sentinels — fixed workloads whose cost depends only on the
    * machine, never on engine code: (a) a pure-CPU xxhash64 fold over
    * `spark.range`, (b) a fixed-fanout shuffle. Baseline values live in
    * BASELINE.md §(c). */
  private def sentinels(spark: SparkSession, reps: Int): Map[String, Seq[Double]] = {
    import org.apache.spark.sql.functions._
    val cpu = (1 to reps).map(_ => cpuSentinelOnce(spark))
    val shuffle = (1 to reps).map(_ => timed {
      spark.range(0, 20000000L, 1, 32)
        .groupBy((col("id") % 1000000L).as("k"))
        .agg(count(lit(1)).as("n"))
        .select(sum(col("n"))).head()
    })
    val par = (1 to reps).map(_ => parSentinelOnce())
    Map("cpu" -> cpu, "shuffle" -> shuffle, "par" -> par)
  }

  /** The sf0.1 embeddings table is tiny (2k rows); to measure the vector
    * path at a meaningful scale, replicate it 100x in-flight (200k x 64-dim)
    * and time exact top-k vs IVF cell-pruned search on the same corpus.
    * The IVF build uses the distributed-KMeans path (the 100 TB default);
    * build runs once, searches get the full rep treatment. */
  private def scaledVectorBench(spark: SparkSession, sfDir: String, reps: Int,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : (Seq[(String, Double)], Seq[(String, Double)]) = {
    import org.apache.spark.sql.functions._
    import graft.ops.SimilaritySearch
    // per-ROW machine probes (r7 gap: one pair for the whole multi-minute
    // block could not adjudicate mid-block contention row by row)
    def probed[A](tag: String)(f: => A): A = {
      val pb = probeOnce(spark)
      val r = f
      recordProbe(tag, (pb, probeOnce(spark)))
      r
    }
    try {
      // headline-suite garbage (iterative graph rows run just before this
      // block) stays "used" until a collection happens to run; pin the
      // block's starting heap to the live set (see minOf2's per-rep note)
      System.gc()
      var pqModel: SimilaritySearch.PqModel = null
      val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val scaled = base
        .crossJoin(spark.range(100).select(col("id").as("rep")))
        .select((col("vec_id") * 100 + col("rep")).as("vec_id"), col("embedding"))
        .repartition(32)
        .persist()
      val n = scaled.count() // materialize outside the timings
      val qv = base.orderBy("vec_id").select("embedding")
        .head().getSeq[Float](0).toArray

      val exact = probed(s"x_vec_topk_${n / 1000}k")((1 to reps).map(_ => timed {
        force(SimilaritySearch.topK(scaled, "vec_id", "embedding", qv, 10))
      }))

      // untimed warmup for the build path (parity with the per-query
      // warmups): a tiny fit absorbs class-loading/codegen cold-start once
      // so the timed build measures the algorithm, not the JVM
      locally {
        val (wix, _) = SimilaritySearch.ivfBuildKMeans(base.limit(512),
          "vec_id", "embedding", nCells = 4)
        wix.count()
      }
      var indexedP: DataFrame = null
      var cents: Array[Array[Float]] = null
      System.gc() // single-timing row: same live-set pinning as minOf2
      // minOf2 since round 10: this was the suite's only single-timing
      // heavyweight, so it never got the warm-rep discipline every other
      // anchored heavyweight row has — and its readings scattered
      // 1.2/1.5/1.6/1.8 across r9/r10 runs with in-band probes while the
      // minOf2 rows above sat stable. Both walls go to row_stats; the
      // first build's index frame is dropped so rep2 does identical work.
      val build = probed("x_ivf_build") {
        val walls = (1 to 2).map { i =>
          // blocking: async eviction of rep1's blocks otherwise overlaps
          // rep2's timed region (a row graded against a tight anchor band)
          if (indexedP != null) indexedP.unpersist(blocking = true)
          val t = timed {
            val (ix, cs) = SimilaritySearch.ivfBuildKMeans(scaled, "vec_id",
              "embedding", nCells = 32, totalHint = Some(n))
            indexedP = ix.persist(); cents = cs
            indexedP.count()
          }
          recordStat("x_ivf_build", s"wall$i", t)
          t
        }
        walls.min
      }

      val probe = probed("x_ivf_probe")((1 to reps).map(_ => timed {
        force(SimilaritySearch.ivfSearch(indexedP, cents, "vec_id", "embedding",
          qv, 10, nProbe = 4))
      }))

      // multi-query knn over the 200k corpus, window vs aggregator path:
      // the aggregator's map-side partial top-k shrinks the shuffle from
      // O(corpus * queries) to O(k * partitions * queries)
      val queries = base.filter(col("vec_id") < 32)
      val knnWin = probed("x_knn_window_32q")((1 to reps).map(_ => timed {
        force(SimilaritySearch.knnJoin(queries, scaled, "vec_id", "vec_id",
          "embedding", k = 10))
      }))
      val knnAgg = probed("x_knn_agg_32q")((1 to reps).map(_ => timed {
        force(SimilaritySearch.knnJoin(queries, scaled, "vec_id", "vec_id",
          "embedding", k = 10, viaAggregator = true))
      }))
      // IVF-routed batch retrieval: route each query to its 4 of 32 cells
      // before scoring — the exact paths above score the full 32q x 200k
      // grid, this one ~1/8 of it
      val knnIvf = probed("x_knn_ivf_32q")((1 to reps).map(_ => timed {
        force(SimilaritySearch.knnJoinIvf(queries, indexedP, cents,
          "vec_id", "vec_id", "embedding", k = 10, nProbe = 4))
      }))
      // PQ on the same 200k corpus: one-time train+encode (like the IVF
      // build row), then the ADC+exact-refine search per rep — the
      // compressed-scan path whose corpus side reads 16 B/row, not 256 B
      var encodedP: DataFrame = null
      // minOf2 since round 11: the r10 artifact read this single-timing
      // row at 1.45 (1.50x anchor) with in-band probes — the same
      // no-warm-rep scatter x_ivf_build showed before its round-10
      // minOf2. Both walls go to row_stats; rep1's encode frame is
      // dropped so rep2 does identical work.
      System.gc() // untimed gap: live-set pinning, same as x_ivf_build
      val pqBuild = probed("x_pq_build") {
        val walls = (1 to 2).map { i =>
          // blocking: same timed-region isolation as x_ivf_build above
          if (encodedP != null) encodedP.unpersist(blocking = true)
          val t = timed {
            val model = SimilaritySearch.pqTrain(scaled, "embedding",
              m = 16, ksub = 32)
            encodedP = SimilaritySearch.encode(scaled, "embedding", model)
              .select(col("vec_id"), col("pq_code")).persist()
            encodedP.count()
            pqModel = model
          }
          recordStat("x_pq_build", s"wall$i", t)
          t
        }
        walls.min
      }
      val pqSearchT = probed("x_pq_search")((1 to reps).map(_ => timed {
        force(SimilaritySearch.quantizedSearch(encodedP, pqModel, "vec_id",
          qv, 10, refine = 16, exactSource = Some((scaled, "embedding"))))
      }))
      // IVFADC: cell-pruned ADC scan (probe nProbe of 32 cells, ADC only
      // their codes, exact refine) — should beat the plain full-corpus ADC
      // scan above by ~nCells/nProbe on the scan stage
      val ivfpqEncoded = SimilaritySearch.encode(indexedP, "embedding", pqModel)
        .select(col("vec_id"), col("cell"), col("pq_code")).persist()
      ivfpqEncoded.count()
      val ivfpqT = probed("x_ivfpq_search")((1 to reps).map(_ => timed {
        force(SimilaritySearch.ivfQuantizedSearch(ivfpqEncoded, cents, pqModel,
          "vec_id", qv, 10, nProbe = 4, refine = 16,
          exactSource = Some((scaled, "embedding"))))
      }))
      // batch IVFADC: the 32-query retrieval routed through cells AND
      // scored on codes in one codegen pass (vs the exact knn rows above
      // that score the full 32q x 200k grid on raw vectors)
      val knnIvfPq = probed("x_knn_ivfpq_32q")((1 to reps).map(_ => timed {
        force(SimilaritySearch.knnJoinIvfQuantized(queries, ivfpqEncoded, cents,
          pqModel, "vec_id", "vec_id", "embedding", k = 10, nProbe = 4,
          refine = 16, exactSource = Some((scaled, "embedding"))))
      }))
      // SQ8 on the same 200k corpus: one-pass min/max train + byte-grid
      // encode (like the PQ build row), then the fused-multiply-add ADC
      // scan + shallow refine — the 64 B/row middle point between the raw
      // 256 B exact scan and PQ's 16 B codes
      import graft.ops.ScalarQuantization
      var sqEncodedP: DataFrame = null
      var sqModel: ScalarQuantization.SqModel = null
      val sqBuild = probed("x_sq_build")(timed {
        val model = ScalarQuantization.sqTrain(scaled, "embedding")
        sqEncodedP = SimilaritySearch.encode(scaled, "embedding", model)
          .select(col("vec_id"), col("sq_code")).persist()
        sqEncodedP.count()
        sqModel = model
      })
      val sqSearchT = probed("x_sq_search")((1 to reps).map(_ => timed {
        force(SimilaritySearch.quantizedSearch(sqEncodedP, sqModel, "vec_id",
          qv, 10, refine = 2, exactSource = Some((scaled, "embedding"))))
      }))
      // IVF-SQ: cell-pruned FMA scan (probe nProbe of 32 cells, byte codes
      // only, shallow refine) — the scalar sibling of the IVFADC row
      val ivfsqEncoded = SimilaritySearch.encode(indexedP, "embedding", sqModel)
        .select(col("vec_id"), col("cell"), col("sq_code")).persist()
      ivfsqEncoded.count()
      val ivfsqT = probed("x_ivfsq_search")((1 to reps).map(_ => timed {
        force(SimilaritySearch.ivfQuantizedSearch(ivfsqEncoded, cents, sqModel,
          "vec_id", qv, 10, nProbe = 4, refine = 2,
          exactSource = Some((scaled, "embedding"))))
      }))
      // batch IVF-SQ: the 32-query retrieval with executor-side factors
      // and the shallow SQ refine (vs the PQ row's refine=16)
      val knnIvfSq = probed("x_knn_ivfsq_32q")((1 to reps).map(_ => timed {
        force(SimilaritySearch.knnJoinIvfQuantized(queries, ivfsqEncoded, cents,
          sqModel, "vec_id", "vec_id", "embedding", k = 10, nProbe = 4,
          refine = 2, exactSource = Some((scaled, "embedding"))))
      }))
      // late-interaction MaxSim over the same 200k corpus as a CHUNK
      // corpus (doc = the 100-replica cluster, `vec_id div 100`): the
      // exact doc-level group-max scores every chunk; the IVF-routed row
      // prunes to nProbe 4 of 32 cells per chunk BEFORE the group-max —
      // the multi-vector serving shape q111 oracles at full probe
      val docd = indexedP.withColumn("doc_id", expr("vec_id div 100"))
      val maxsimExact = probed("x_maxsim_200k")((1 to reps).map(_ => timed {
        import graft.functions.VectorFunctions.{cosineUnit, vecLit}
        force(scaled.withColumn("doc_id", expr("vec_id div 100"))
          .withColumn("score", cosineUnit(col("embedding"), vecLit(qv)))
          .groupBy(col("doc_id")).agg(max(col("score")).as("score"))
          .orderBy(desc("score"), col("doc_id")).limit(10))
      }))
      val maxsimIvf = probed("x_maxsim_ivf_200k")((1 to reps).map(_ => timed {
        force(SimilaritySearch.maxSimSearch(docd, cents, "doc_id",
          "embedding", qv, 10, nProbe = 4))
      }))
      // continuous retrieval at the operating point (nProbe 4 of 32) over
      // the same 200k corpus: a MemoryStream of query vectors drained
      // AvailableNow through the stream-static cell join + vec_topk state
      // — two rates, the small-batch latency floor (32q) and a
      // throughput batch (512q; per-query cost should FALL as the static
      // side's scan amortizes across queries)
      def streamRate(nq: Int): Seq[Double] = {
        import org.apache.spark.sql.streaming.Trigger
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        val qrows = base.filter(col("vec_id") < nq)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq
        (1 to reps).map { _ => timed {
          val ms = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(Long, Array[Float])]
          ms.addData(qrows)
          val qdf = ms.toDF().select(col("_1").as("vec_id"),
            col("_2").cast("array<float>").as("embedding"))
          val res = graft.streaming.StreamingRetrieval.knnStream(qdf,
            indexedP, cents, "vec_id", "vec_id", "embedding", k = 10,
            nProbe = 4)
          val q = res.writeStream.format("noop").outputMode("complete")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }}
      }
      val sr32 = probed("x_stream_retrieval_32q")(streamRate(32))
      val sr512 = probed("x_stream_retrieval_512q")(streamRate(512))
      scaled.unpersist(); indexedP.unpersist(); encodedP.unpersist()
      ivfpqEncoded.unpersist(); sqEncodedP.unpersist(); ivfsqEncoded.unpersist()
      val mins = Seq(s"x_vec_topk_${n / 1000}k" -> exact.min,
        "x_ivf_build" -> build, "x_ivf_probe" -> probe.min,
        "x_knn_window_32q" -> knnWin.min, "x_knn_agg_32q" -> knnAgg.min,
        "x_knn_ivf_32q" -> knnIvf.min,
        "x_pq_build" -> pqBuild, "x_pq_search" -> pqSearchT.min,
        "x_ivfpq_search" -> ivfpqT.min, "x_knn_ivfpq_32q" -> knnIvfPq.min,
        "x_sq_build" -> sqBuild, "x_sq_search" -> sqSearchT.min,
        "x_ivfsq_search" -> ivfsqT.min, "x_knn_ivfsq_32q" -> knnIvfSq.min,
        "x_maxsim_200k" -> maxsimExact.min,
        "x_maxsim_ivf_200k" -> maxsimIvf.min,
        "x_stream_retrieval_32q" -> sr32.min,
        "x_stream_retrieval_512q" -> sr512.min)
      val meds = Seq(s"x_vec_topk_${n / 1000}k" -> med(exact),
        "x_ivf_build" -> build, "x_ivf_probe" -> med(probe),
        "x_knn_window_32q" -> med(knnWin), "x_knn_agg_32q" -> med(knnAgg),
        "x_knn_ivf_32q" -> med(knnIvf),
        "x_pq_build" -> pqBuild, "x_pq_search" -> med(pqSearchT),
        "x_ivfpq_search" -> med(ivfpqT), "x_knn_ivfpq_32q" -> med(knnIvfPq),
        "x_sq_build" -> sqBuild, "x_sq_search" -> med(sqSearchT),
        "x_ivfsq_search" -> med(ivfsqT), "x_knn_ivfsq_32q" -> med(knnIvfSq),
        "x_maxsim_200k" -> med(maxsimExact),
        "x_maxsim_ivf_200k" -> med(maxsimIvf),
        "x_stream_retrieval_32q" -> med(sr32),
        "x_stream_retrieval_512q" -> med(sr512))
      (mins, meds)
    } catch { case _: Throwable =>
      (Seq("x_vec_scaled" -> -1.0), Seq("x_vec_scaled" -> -1.0)) }
  }

  /** The dedup family at ~50k docs, each scheme on the corpus shape it is
    * the scale path for (candidate-count scaling for both shapes is
    * measured separately by [[DedupStress]], recorded in NOTES_r3.md):
    *   - minhash + simhash on the REPLICATED FIXTURE (10x, per-replica
    *     perturbation): tiny-vocab corpora are exactly where sketch
    *     blocking must hold, and their candidates stay near the true pair
    *     count there;
    *   - exact-Jaccard (auto -> prefix filtering) on the SYNTHETIC
    *     LARGE-VOCAB corpus: token blocking needs tokens that can be rare.
    *     On a tiny-vocab 50k corpus no content blocking is sub-quadratic
    *     for EXACT pair enumeration (~10^8 candidates, measured) — the
    *     right tool there is minhash, which is what the row above times.
    * One timing each — these are the bench's heaviest rows. */
  private def scaledDedupBench(spark: SparkSession, sfDir: String,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import graft.ops.Dedup
    // the fixture's tiny vocabulary makes ~1/3 of all pairs minhash
    // candidates, so the verify join moves ~40M rows carrying ~1 KB shingle
    // payloads at 10x scale: partition the shuffle to the DATA (40M rows /
    // 256 ~ 160k rows per task sort), not the core count — the same sizing
    // rule a 100 TB job applies via spark.sql.shuffle.partitions; AQE
    // coalesces the small stages back down. Restored after the block.
    val prevPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    // headline/vector runs leave dead localCheckpoint RDDs behind; a GC
    // lets ContextCleaner drop their blocks before the heaviest section
    System.gc()
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val scaled = DedupStress.replicateDocs(docs, 10)
        .repartition(32).persist()
      val n = scaled.count() / 1000
      // Min of two timings — the same warmup-then-measure discipline the
      // headline rows get, at the only scale that actually warms these
      // paths. A small-scale warmup does NOT suffice here: with a 5k-doc
      // warmup the 50k minhash run still measured 41-43s, while the
      // IDENTICAL job re-run in the same JVM measured 19.5s (vs 39.6
      // cold) — the first full-volume run pays C2 compilation of the
      // sort/spill/shuffle runtime that only the 40M-candidate join
      // exercises. The row should measure the algorithm, not JIT.
      // Each timing logs its stop-the-world GC share and starting heap:
      // the round-4 open question is WHY full-suite minhash runs 1.3-2x
      // its isolated time with in-band machine sentinels (code cache ruled
      // out at 114/240 MB) — if the excess shows up here as GC seconds /
      // a high heap floor, the mechanism is accumulated old-gen churn.
      def minOf2(tag: String)(f: => Unit): Double = {
        def one(i: Int): Double = {
          // per-rep GC (round 10): heapStart here was GC-timing luck —
          // bench1 vs bench_full r9 ran the IDENTICAL suite and read
          // 3.5 GB vs 17.8-35.8 GB at these rows, and the high-heap run
          // was the one 1.5x over anchor with flat gc/jobconst/cands
          // (mechanism: a ballooned committed heap squeezes the page
          // cache these 40M-candidate shuffles live in). A full GC in
          // the untimed gap pins heapStart to the live set, so the rep
          // measures the algorithm, not the collector's mood.
          System.gc()
          // flush the previous rep's (and block's) dirty shuffle pages
          // outside the timed region — the r13 write-back finding: these
          // single-timing heavyweights write GBs of spill, and absorbing
          // a predecessor's flush mid-rep is the §c12/§c21/§c27
          // "probe-clean 1.1-2x" mechanism (see syncDisk)
          val sy = syncDisk()
          if (sy > 0.25) recordStat(tag, s"sync$i", sy)
          val g0 = gcMillis(); val h0 = heapUsedMb()
          val t = timed(f)
          val gs = (gcMillis() - g0) / 1000.0
          System.err.println(f"[bench] $tag%s rep$i%d wall=$t%.1fs " +
            f"gc=$gs%.1fs heapStart=${h0}%dMB")
          recordStat(tag, s"wall$i", t)
          recordStat(tag, s"gc$i", gs)
          recordStat(tag, s"heapStart${i}_mb", h0.toDouble)
          // in-suite residual instrumentation (VERDICT r13 task 2): the
          // full-suite jaccard row reads 1.1-1.2x its solo band with
          // clean probes/gc/sync — record the code-cache level per rep so
          // a JIT-displacement mechanism is checkable from the artifact
          recordStat(tag, s"codecache${i}_mb", codeCacheUsedMb())
          t
        }
        // single-timing heavyweights are the rows the §c5 bursts hit
        // hardest — bracket each with its own machine probe so the
        // artifact shows whether the box was contended DURING the row
        val pb = probeOnce(spark)
        val t = math.min(one(1), one(2))
        recordProbe(tag, (pb, probeOnce(spark)))
        t
      }
      // candidates/doc measured IN the artifact (not stderr): the first
      // question on any drift row is "did the data path grow" — these
      // lines answer it without a separate stress run
      def sketchRows(): Seq[(String, Double)] = {
        // threshold-matched since r15: the row's verify path now takes the
        // size-banded candidate stream (Dedup.minhashCandidates with
        // threshold = the row's 0.9), so the drift stat counts what the
        // row actually attaches. r14 basis was the RAW banded stream
        // (804/doc at 50k); the sized stream measured 470/doc (XProbe
        // r15) — a cands_per_doc step between r14 and r15 artifacts is
        // this definition change, not data growth. The raw-banding growth
        // claim keeps its own opt-in probe (x_dedup200, unchanged).
        val mhCands = Dedup.minhashCandidates(
          Dedup.shingleSets(scaled, "doc_id", "text", 1), 48, 6, 0.9).count()
        recordStat(s"x_dedup_minhash_${n}k", "cands_per_doc",
          mhCands.toDouble / (n * 1000))
        val shCands = Dedup.simhashCandidates(scaled, "doc_id", "text", 6)
          .count()
        recordStat(s"x_dedup_simhash_${n}k", "cands_per_doc",
          shCands.toDouble / (n * 1000))
        // probe tags carry the row suffix so bench_full.json's per-row
        // probes join the emitted row names (r7: the suffixless tags left
        // exactly the heavyweight rows unadjudicable on a contended tail)
        val mh = minOf2(s"x_dedup_minhash_${n}k") { force(Dedup.minhashPairs(
          scaled, "doc_id", "text", n = 1, numHashes = 48, bands = 6,
          threshold = 0.9)) }
        val sh = minOf2(s"x_dedup_simhash_${n}k") { force(Dedup.simhashPairs(
          scaled, "doc_id", "text", maxHamming = 6)) }
        scaled.unpersist()
        Seq(s"x_dedup_minhash_${n}k" -> mh, s"x_dedup_simhash_${n}k" -> sh)
      }
      def jaccardRows(): Seq[(String, Double)] = {
        val synth = DedupStress.syntheticDocs(spark, 50000)
          .repartition(32).persist()
        val sn = synth.count() / 1000
        val jacCands = Dedup.prefixCandidates(
          Dedup.shingleSets(synth, "doc_id", "text", 1), 0.9).count()
        recordStat(s"x_dedup_jaccard_${sn}k", "cands_per_doc",
          jacCands.toDouble / (sn * 1000))
        val jac = minOf2(s"x_dedup_jaccard_${sn}k") {
          force(Dedup.ngramJaccardPairs(
            synth, "doc_id", "text", n = 1, threshold = 0.9)) }
        // CC collapse at 50k: the rows above time pair GENERATION; this
        // times the cluster collapse those pairs feed — alternating
        // large-star/small-star to the fixpoint, then the survivor
        // anti-join. Pairs are materialized first so the row measures the
        // collapse, not a pair recompute.
        val pairs50 = Dedup.ngramJaccardPairs(synth, "doc_id", "text",
          n = 1, threshold = 0.9)
          .select("id_a", "id_b").persist()
        pairs50.count()
        var ccRounds = -1
        // split timing (round-6 drift question): the row is fixpoint +
        // survivor anti-join; the split shows WHICH half moves when the
        // full-suite reading drifts off the isolated anchor
        var ccWall = -1.0; var ajWall = -1.0
        val collapse = minOf2(s"x_dedup_collapse_${sn}k") {
          val t0 = System.nanoTime()
          val (victims, rounds) = Dedup.ccAlternatingStars(pairs50, 20)
          ccRounds = rounds
          ccWall = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          force(synth.join(victims,
            synth("doc_id") === victims("id"), "left_anti"))
          ajWall = (System.nanoTime() - t1) / 1e9
        }
        // rounds should stay ~log^2(largest component), NOT track corpus
        // size — the O(log^2 n) contract the bench row exists to watch
        System.err.println(f"[bench] x_dedup_collapse_${sn}k rounds=$ccRounds " +
          f"cc=$ccWall%.2fs antijoin=$ajWall%.2fs (last rep)")
        recordStat(s"x_dedup_collapse_${sn}k", "cc_rounds", ccRounds.toDouble)
        recordStat(s"x_dedup_collapse_${sn}k", "cc_wall_last", ccWall)
        recordStat(s"x_dedup_collapse_${sn}k", "antijoin_wall_last", ajWall)
        pairs50.unpersist()
        synth.unpersist()
        Seq(s"x_dedup_jaccard_${sn}k" -> jac,
          s"x_dedup_collapse_${sn}k" -> collapse)
      }
      // Block-order experiment (VERDICT r13 task 2a): the in-suite
      // jaccard row reads 1.1-1.2x its solo band and it always runs
      // immediately after the 17.7 s minhash block.
      // SPARK_GRAFT_DEDUP_ORDER=jaccard_first flips the execution order
      // (jaccard+collapse before minhash+simhash) while keeping row names
      // and the emitted ordering identical, so a reading taken under the
      // flipped order isolates "predecessor state" from "suite context".
      // Note the one asymmetry: under jaccard_first the replicated-fixture
      // frame stays persisted through the jaccard rows (it unpersists in
      // sketchRows) — ~50 MB of storage, recorded here for the record.
      val jaccardFirst =
        sys.env.get("SPARK_GRAFT_DEDUP_ORDER").contains("jaccard_first")
      val rows =
        if (jaccardFirst) { val j = jaccardRows(); sketchRows() ++ j }
        else sketchRows() ++ jaccardRows()
      rows
    } catch { case _: Throwable => Seq("x_dedup_scaled" -> -1.0)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevPartitions)
    }
  }

  /** Candidate-growth stress at 200k docs (4x the anchored 50k rows) —
    * OPT-IN (`only=x_dedup200`): ~5 min of wall clock that exists to
    * re-verify the near-linear-candidate claim one doubling step further,
    * not to run every round. Measures candidates/doc at 50k AND 200k in
    * the same run (same box regime) for both blocking schemes, logs the
    * growth ratio (the claim: flat within ~1.5x), then times the full
    * pair pipeline at 200k with the 50k rows' min-of-2 discipline. */
  /** Fuzzy-join candidate growth, one 4x step past the q106 headline row.
    * OPT-IN (`only=x_fuzzy600`): generates zero-padded keys in the
    * customer-name format at 150k (the sf0.1 row count) and 600k, counts
    * deletion-neighborhood CANDIDATE pairs per key at both scales — the
    * scale claim under test: candidates/key stays flat as the corpus
    * quadruples, because a numeric key space's variant-bucket density is
    * set by the digit alphabet, not the corpus size — then times the full
    * verify pipeline at both scales with the dedup blocks' min-of-2
    * discipline and per-row probes. */
  /** Containment-join candidate growth at 50k AND 200k docs on the
    * large-vocab synthetic corpus — OPT-IN (`only=x_containment`), the
    * §c8 discipline applied to the one round-6 operator whose scale
    * claim was argued from structure, not measured (q107's sf0.01
    * fixture is deliberately DENSE — near-quadratic by construction —
    * so its timing says nothing about the large-vocab regime the
    * directed prefix filter is designed for). Counts candidates/doc at
    * both scales (claim: flat within ~1.5x across the 4x step — probe
    * prefixes are each doc's rarest shingles, so posting-list hits stay
    * short when the vocabulary scales with the corpus), then times the
    * full verify pipeline with the dedup blocks' min-of-2 + per-row
    * probe discipline. */
  private def scaledContainmentBench(spark: SparkSession,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import graft.ops.Dedup
    val prevPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    try {
      def candsPerDoc(n: Int): Double = {
        val synth = DedupStress.syntheticDocs(spark, n)
          .repartition(32).persist()
        synth.count()
        val sh = Dedup.shingleSets(synth, "doc_id", "text", 1)
        val c = Dedup.containmentCandidates(sh, 0.9).count().toDouble / n
        synth.unpersist()
        c
      }
      val c50 = candsPerDoc(50000)
      val c200 = candsPerDoc(200000)
      System.err.println(f"[bench] x_containment candidates/doc " +
        f"50k=$c50%.3f 200k=$c200%.3f growth=${c200 / c50}%.2fx")
      def minOf2(tag: String, n: Int): Double = {
        val synth = DedupStress.syntheticDocs(spark, n)
          .repartition(32).persist()
        synth.count()
        def one(i: Int): Double = {
          val g0 = gcMillis()
          val t = timed(force(Dedup.containmentPairs(synth, "doc_id",
            "text", n = 1, threshold = 0.9)))
          System.err.println(f"[bench] $tag%s rep$i%d wall=$t%.1fs " +
            f"gc=${(gcMillis() - g0) / 1000.0}%.1fs")
          t
        }
        val pb = probeOnce(spark)
        val t = math.min(one(1), one(2))
        recordProbe(tag, (pb, probeOnce(spark)))
        synth.unpersist()
        t
      }
      Seq("x_containment_50k" -> minOf2("x_containment_50k", 50000),
        "x_containment_200k" -> minOf2("x_containment_200k", 200000))
    } catch { case _: Throwable => Seq("x_containment_scaled" -> -1.0)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevPartitions)
    }
  }

  /** The maxDist=2 fuzzy path as an ANCHORED row (it previously had spec
    * coverage only at toy scale): 15k real customer names, depth-2
    * deletion neighborhoods — O(len^2)/2 signature rows per key, each
    * carrying the full string through the candidate join
    * (FuzzyJoin.scala's documented short-key trade) — then the
    * levenshtein <= 2 verify. Candidates/key is logged so BASELINE can
    * track whether the k=2 string-carry volume ever warrants switching
    * that path to ids-only + re-attach. Runs on a full bench (or
    * `only=x_fuzzy_k2`). */
  private def fuzzyK2Bench(spark: SparkSession, sfDir: String,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import graft.ops.FuzzyJoin
    import org.apache.spark.sql.functions.col
    try {
      val names = spark.read.parquet(s"$sfDir/customer.parquet")
        .filter(col("c_custkey") <= 15000)
        .select(col("c_custkey"), col("c_name"))
        .repartition(32).persist()
      val n = names.count()
      val cpk = FuzzyJoin.candidatePairs(names, "c_custkey", "c_name", 2)
        .count().toDouble / n
      System.err.println(f"[bench] x_fuzzy_k2_15k n=$n%d " +
        f"candidates/key=$cpk%.2f")
      // in-artifact (VERDICT r13 task 3: the band re-base's first
      // question is "is candidates/key still ~1157", so the artifact
      // answers it)
      recordStat("x_fuzzy_k2_15k", "cands_per_key", cpk)
      def one(i: Int): Double = {
        // same per-rep discipline as the 50k dedup minOf2 (§c29/§c30):
        // this row predates the io discipline and was still graded
        // against a single-run r8 anchor — its reps now pin heap, flush
        // the predecessor's dirty pages outside timing, and record the
        // trail, so the re-based band rests on clean readings
        System.gc()
        val sy = syncDisk()
        if (sy > 0.25) recordStat("x_fuzzy_k2_15k", s"sync$i", sy)
        val g0 = gcMillis(); val h0 = heapUsedMb()
        val t = timed(force(FuzzyJoin.editDistancePairs(names, "c_custkey",
          "c_name", maxDist = 2)))
        val gs = (gcMillis() - g0) / 1000.0
        System.err.println(f"[bench] x_fuzzy_k2_15k rep$i%d wall=$t%.1fs " +
          f"gc=$gs%.1fs heapStart=${h0}%dMB")
        recordStat("x_fuzzy_k2_15k", s"wall$i", t)
        recordStat("x_fuzzy_k2_15k", s"gc$i", gs)
        recordStat("x_fuzzy_k2_15k", s"heapStart${i}_mb", h0.toDouble)
        t
      }
      val pb = probeOnce(spark)
      val t = math.min(one(1), one(2))
      recordProbe("x_fuzzy_k2_15k", (pb, probeOnce(spark)))
      names.unpersist()
      Seq("x_fuzzy_k2_15k" -> t)
    } catch { case _: Throwable => Seq("x_fuzzy_k2_15k" -> -1.0) }
  }

  /** Sparse TF-IDF neighbors at corpus scale (full bench or
    * `only=x_tfidf`): 50k synthetic docs with a LARGE disjoint vocabulary
    * (the near-dup twin corpus the 50k dedup rows use) — the regime the
    * posting-list self-join is designed for, where df stays small and the
    * candidate mass Σ df² is linear in docs. The documents fixture is the
    * opposite regime (31 terms, df ~0.8n — posting join ~all-pairs), so
    * the oracle runs there and the scale row runs here. Candidate
    * density (Σ df² / n, the posting-join row count per doc) is logged so
    * BASELINE can watch for quadratic onset like §c8/§c9. */
  private def tfidfBench(spark: SparkSession,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.{col, countDistinct, explode,
      lit, lower, sum, transform, count => cnt}
    try {
      val synth = DedupStress.syntheticDocs(spark, 50000)
        .repartition(32).persist()
      val n = synth.count()
      val dfreq = synth.select(explode(transform(
          graft.functions.TextFunctions.tokens(col("text")),
          t => lower(t))).as("term"), col("doc_id"))
        .groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
      val mass = dfreq.agg(sum(col("df") * col("df"))).head().getLong(0)
      System.err.println(f"[bench] x_tfidf_50k n=$n%d " +
        f"candidates/doc=${mass.toDouble / n}%.2f")
      def one(i: Int): Double = {
        val g0 = gcMillis()
        val t = timed(force(graft.ops.SparseSimilarity.tfidfNeighbors(
          synth, "doc_id", "text", k = 3, maxDfFraction = 0.5)))
        System.err.println(f"[bench] x_tfidf_50k rep$i%d wall=$t%.1fs " +
          f"gc=${(gcMillis() - g0) / 1000.0}%.1fs")
        t
      }
      val pb = probeOnce(spark)
      val t = math.min(one(1), one(2))
      recordProbe("x_tfidf_50k", (pb, probeOnce(spark)))
      synth.unpersist()
      Seq("x_tfidf_50k" -> t)
    } catch { case _: Throwable => Seq("x_tfidf_50k" -> -1.0) }
  }

  /** Cross-relation jaccard join candidate growth (50k -> 200k docs) on
    * the large-vocab synthetic corpus — OPT-IN (`only=x_cross`), the §c8
    * discipline for the round-7 R-S join: left = a ~1/64 hash slice (the
    * eval-suite / fresh-snapshot shape), right = the rest, prefix
    * blocking forced (what auto picks on a real corpus). Logged
    * candidates/left-doc is the scale claim under test: the shared-order
    * rarest-shingle prefixes keep posting hits short as BOTH relations
    * grow, so the ratio should stay flat across the 4x step. */
  private def crossJaccardBench(spark: SparkSession,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    try {
      Seq(50000, 200000).flatMap { nDocs =>
        val synth = DedupStress.syntheticDocs(spark, nDocs)
          .repartition(32).persist()
        val n = synth.count()
        val isLeft = pmod(xxhash64(col("doc_id")), lit(64)) === 0
        val left = synth.filter(isLeft).persist()
        val right = synth.filter(!isLeft).persist()
        val nl = left.count(); right.count()
        val cand = Dedup.crossPrefixCandidates(
          Dedup.shingleSets(left, "doc_id", "text", 1),
          Dedup.shingleSets(right, "doc_id", "text", 1), 0.9).count()
        System.err.println(f"[bench] x_cross_jaccard_${n / 1000}%dk " +
          f"nLeft=$nl%d candidates/leftDoc=${cand.toDouble / nl}%.3f")
        def one(i: Int): Double = {
          val g0 = gcMillis()
          val t = timed(force(Dedup.ngramJaccardJoin(left, right,
            "doc_id", "doc_id", "text", n = 1, threshold = 0.9,
            blocking = "prefix")))
          System.err.println(f"[bench] x_cross_jaccard_${n / 1000}%dk " +
            f"rep$i%d wall=$t%.1fs gc=${(gcMillis() - g0) / 1000.0}%.1fs")
          t
        }
        val tag = s"x_cross_jaccard_${n / 1000}k"
        val pb = probeOnce(spark)
        val t = math.min(one(1), one(2))
        recordProbe(tag, (pb, probeOnce(spark)))
        left.unpersist(); right.unpersist(); synth.unpersist()
        Seq(tag -> t)
      }
    } catch { case _: Throwable => Seq("x_cross_jaccard" -> -1.0) }
  }

  /** Label-propagation growth (500k -> 2M edges) on a seeded synthetic
    * ER-ish multigraph at CONSTANT average degree — OPT-IN (`only=x_lpa`),
    * the §c8 discipline for the round's iterative graph operator: every
    * LPA round is one edge-sized join + two partial aggregates, so the
    * 4-round wall should grow ~linearly with edges (the per-node argmax
    * state is degree-bounded, never corpus-bounded). */
  private def lpaGrowthBench(spark: SparkSession,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import graft.ops.GraphOps
    import org.apache.spark.sql.functions.{abs => fabs, col, lit, pmod, xxhash64}
    try {
      Seq(500000, 2000000).map { nEdges =>
        val nNodes = nEdges / 8 // constant avg degree ~16 (undirected)
        val edges = spark.range(nEdges.toLong)
          .select(
            pmod(fabs(xxhash64(col("id"), lit(1))), lit(nNodes.toLong)).as("u"),
            pmod(fabs(xxhash64(col("id"), lit(2))), lit(nNodes.toLong)).as("v"))
          .filter(col("u") =!= col("v"))
          .repartition(32).persist()
        val m = edges.count()
        def one(tag: String, i: Int): Double = {
          val g0 = gcMillis()
          val t = timed(force(GraphOps.labelPropagation(
            edges, "u", "v", iters = 4)))
          System.err.println(f"[bench] $tag%s rep$i%d " +
            f"edges=$m%d wall=$t%.1fs gc=${(gcMillis() - g0) / 1000.0}%.1fs")
          t
        }
        // block-superstep default (round 10) + the forced shuffle loop at
        // the same suite position: the growth claim is now measured for
        // BOTH regimes, and the pair adjudicates the block collapse
        val tag = s"x_lpa_${nEdges / 1000}k"
        val pb = probeOnce(spark)
        val t = math.min(one(tag, 1), one(tag, 2))
        recordProbe(tag, (pb, probeOnce(spark)))
        val tagLoop = s"x_lpa_loop_${nEdges / 1000}k"
        spark.conf.set("spark.graft.lpa.distributed", "loop")
        val tLoop =
          try math.min(one(tagLoop, 1), one(tagLoop, 2))
          finally spark.conf.unset("spark.graft.lpa.distributed")
        recordProbe(tagLoop, (probeOnce(spark), probeOnce(spark)))
        edges.unpersist()
        Seq(tag -> t, tagLoop -> tLoop)
      }.flatten
    } catch { case _: Throwable => Seq("x_lpa_scaled" -> -1.0) }
  }

  /** k-core coreness growth (500k -> 2M edges) on the seeded synthetic
    * multigraph (the x_lpa graph shape, constant avg degree ~16) PLUS an
    * isolated instrumented rep of the q130 fixture graph — OPT-IN
    * (`only=x_kcore`). Logs rounds taken and the per-round frontier
    * (changed-estimate count, free via the Observation metric riding the
    * materialize pass): the scale claim is that rounds track degeneracy
    * depth (not corpus size) and the frontier collapses geometrically, so
    * 4x edges should cost well under 4x wall. */
  private def kcoreGrowthBench(spark: SparkSession, sfDir: String,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import graft.ops.GraphOps
    import org.apache.spark.sql.functions.{abs => fabs, col, lit, pmod, xxhash64}
    def frontierStr(fs: Seq[Long]): String =
      fs.take(12).mkString(",") + (if (fs.size > 12) ",..." else "")
    // persisted frames tracked for the finally: the catch-all -1 path
    // otherwise leaks cached blocks into subsequent bench sections
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // force the DISTRIBUTED shuffle loop: these anchored rows measure the
    // scale path's loop formulation; at these sizes the engine default
    // would take the bounded-local pass (which the headline q130 row
    // measures) or, from round 9, the block-relaxation regime (which the
    // x_kcore_block_* rows below measure)
    spark.conf.set("spark.graft.coreness.localEdgeThreshold", "0")
    spark.conf.set("spark.graft.coreness.distributed", "loop")
    def blockRegime[T](f: => T): T = {
      spark.conf.set("spark.graft.coreness.distributed", "block")
      try f
      finally spark.conf.set("spark.graft.coreness.distributed", "loop")
    }
    try {
      // (a) the q130 fixture graph, isolated + instrumented: the anchor
      // for the headline row (which cannot log telemetry from inside the
      // oracle-shaped query)
      val fixRow = {
        val edges = GraphOps.coOccurrencePairs(
          spark.read.parquet(s"$sfDir/lineitem.parquet"),
          "l_orderkey", "l_partkey").persist()
        persisted += edges
        val m = edges.count()
        def one(i: Int): Double = {
          val g0 = gcMillis()
          var rounds = -1; var fs = Seq.empty[Long]
          val t = timed {
            val (res, r, f) = GraphOps.corenessWithStats(edges,
              "item_a", "item_b")
            rounds = r; fs = f
            force(res)
          }
          System.err.println(f"[bench] x_kcore_fixture rep$i%d edges=$m%d " +
            f"wall=$t%.1fs gc=${(gcMillis() - g0) / 1000.0}%.1fs " +
            s"rounds=$rounds frontier=${frontierStr(fs)}")
          recordStat("x_kcore_fixture", s"wall$i", t)
          recordStat("x_kcore_fixture", s"gc$i", (gcMillis() - g0) / 1000.0)
          recordStat("x_kcore_fixture", "rounds", rounds.toDouble)
          t
        }
        val pb = probeOnce(spark)
        val t = math.min(one(1), one(2))
        recordProbe("x_kcore_fixture", (pb, probeOnce(spark)))
        // same fixture through the block-relaxation regime (round 9):
        // the superstep count and per-superstep frontier land in
        // row_stats, so the loop-vs-block comparison ships in-artifact
        val tb = blockRegime {
          val pbB = probeOnce(spark)
          def oneB(i: Int): Double = {
            var rounds = -1; var fs = Seq.empty[Long]
            val t2 = timed {
              val (res, r, f) = GraphOps.corenessWithStats(edges,
                "item_a", "item_b")
              rounds = r; fs = f
              force(res)
            }
            System.err.println(f"[bench] x_kcore_block_fixture rep$i%d " +
              f"wall=$t2%.1fs supersteps=$rounds " +
              s"frontier=${frontierStr(fs)}")
            recordStat("x_kcore_block_fixture", s"wall$i", t2)
            recordStat("x_kcore_block_fixture", "supersteps", rounds.toDouble)
            t2
          }
          val r = math.min(oneB(1), oneB(2))
          recordProbe("x_kcore_block_fixture", (pbB, probeOnce(spark)))
          r
        }
        edges.unpersist()
        Seq("x_kcore_fixture" -> t, "x_kcore_block_fixture" -> tb)
      }
      // (b) growth: same synthetic graph family as x_lpa
      val grown = Seq(500000, 2000000).map { nEdges =>
        val nNodes = nEdges / 8
        val edges = spark.range(nEdges.toLong)
          .select(
            pmod(fabs(xxhash64(col("id"), lit(1))), lit(nNodes.toLong)).as("u"),
            pmod(fabs(xxhash64(col("id"), lit(2))), lit(nNodes.toLong)).as("v"))
          .filter(col("u") =!= col("v"))
          .repartition(32).persist()
        persisted += edges
        val m = edges.count()
        val tag = s"x_kcore_${nEdges / 1000}k"
        def one(i: Int): Double = {
          val g0 = gcMillis()
          var rounds = -1; var fs = Seq.empty[Long]
          val t = timed {
            val (res, r, f) = GraphOps.corenessWithStats(edges, "u", "v")
            rounds = r; fs = f
            force(res)
          }
          System.err.println(f"[bench] $tag%s rep$i%d edges=$m%d " +
            f"wall=$t%.1fs gc=${(gcMillis() - g0) / 1000.0}%.1fs " +
            s"rounds=$rounds frontier=${frontierStr(fs)}")
          recordStat(tag, s"wall$i", t)
          recordStat(tag, "rounds", rounds.toDouble)
          t
        }
        val pb = probeOnce(spark)
        val t = math.min(one(1), one(2))
        recordProbe(tag, (pb, probeOnce(spark)))
        val tagB = s"x_kcore_block_${nEdges / 1000}k"
        val tb = blockRegime {
          def oneB(i: Int): Double = {
            var rounds = -1; var fs = Seq.empty[Long]
            val t2 = timed {
              val (res, r, f) = GraphOps.corenessWithStats(edges, "u", "v")
              rounds = r; fs = f
              force(res)
            }
            System.err.println(f"[bench] $tagB%s rep$i%d wall=$t2%.1fs " +
              s"supersteps=$rounds frontier=${frontierStr(fs)}")
            recordStat(tagB, s"wall$i", t2)
            recordStat(tagB, "supersteps", rounds.toDouble)
            t2
          }
          math.min(oneB(1), oneB(2))
        }
        edges.unpersist()
        Seq(tag -> t, tagB -> tb)
      }
      fixRow ++ grown.flatten
    } catch { case _: Throwable => Seq("x_kcore_scaled" -> -1.0)
    } finally {
      spark.conf.unset("spark.graft.coreness.localEdgeThreshold")
      spark.conf.unset("spark.graft.coreness.distributed")
      persisted.foreach(_.unpersist())
    }
  }

  /** Incremental-CC fold cost vs corpus size — OPT-IN (`only=x_inc_cc`):
    * folds an IDENTICAL 2k-pair batch into a 200k-id and an 800k-id
    * component map (cluster-of-4 structure, batch touches ~1k clusters).
    * The operator's whole scale claim is that per-batch work tracks the
    * DELTA (new pairs + touched-component mass, constant here), not the
    * corpus: the 4x-corpus wall should grow only by the map's scan term
    * (untouched rows pass through a broadcast anti-join unshuffled).
    * Logs the touched-member count so the artifact shows the delta really
    * was constant across the two corpus sizes. */
  private def incCcBench(spark: SparkSession,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions.{col, lit}
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      Seq(200000, 800000).map { nIds =>
        // existing map: clusters of 4 (rep = id - id%4), WITH self-rows
        val existing = spark.range(nIds.toLong)
          .select(col("id"), (col("id") - col("id") % 4).as("rep"))
          .repartition(32).persist()
        persisted += existing
        existing.count()
        // batch: 2k pairs bridging neighboring clusters at the id-space
        // head — the same batch (same touched mass) at BOTH corpus sizes
        val batch = spark.range(2000)
          .select((col("id") * 8).as("id_a"), (col("id") * 8 + 4).as("id_b"))
        val touchedMembers = existing
          .join(org.apache.spark.sql.functions.broadcast(
            batch.select(col("id_a").as("r"))
              .unionAll(batch.select(col("id_b").as("r"))).distinct()),
            col("rep") === col("r"), "leftsemi").count()
        val tag = s"x_inc_cc_${nIds / 1000}k"
        def one(i: Int): Double = {
          val g0 = gcMillis()
          val t = timed(force(Dedup.mergeComponents(existing, batch)))
          System.err.println(f"[bench] $tag%s rep$i%d corpus=$nIds%d " +
            f"touchedMembers=$touchedMembers%d wall=$t%.1fs " +
            f"gc=${(gcMillis() - g0) / 1000.0}%.1fs")
          t
        }
        val pb = probeOnce(spark)
        val t = math.min(one(1), one(2))
        recordProbe(tag, (pb, probeOnce(spark)))
        existing.unpersist()
        tag -> t
      }
    } catch { case _: Throwable => Seq("x_inc_cc_scaled" -> -1.0)
    } finally persisted.foreach(_.unpersist())
  }

  /** Connected-components growth (500k -> 2M edges) on the x_lpa ER-ish
    * multigraph — OPT-IN (`only=x_cc`): measures the round-10 two-level
    * union-find block regime (one map-only certificate pass + guarded
    * single-task merge) against the forced alternating-stars loop at the
    * same suite position. The block wall should grow ~linearly with
    * edges and sit well under the loop's O(log n)-round shuffle cost;
    * both regimes emit the identical component map (spec-asserted), so
    * the pair is pure regime adjudication. */
  private def ccGrowthBench(spark: SparkSession,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions.{abs => fabs, col, lit, pmod, xxhash64}
    try {
      Seq(500000, 2000000).map { nEdges =>
        val nNodes = nEdges / 8 // constant avg degree ~16 (undirected)
        val edges = spark.range(nEdges.toLong)
          .select(
            pmod(fabs(xxhash64(col("id"), lit(1))), lit(nNodes.toLong)).as("id_a"),
            pmod(fabs(xxhash64(col("id"), lit(2))), lit(nNodes.toLong)).as("id_b"))
          .filter(col("id_a") =!= col("id_b"))
          .repartition(32).persist()
        val m = edges.count()
        def one(tag: String, i: Int): Double = {
          val g0 = gcMillis()
          val t = timed(force(Dedup.componentMap(edges)))
          System.err.println(f"[bench] $tag%s rep$i%d " +
            f"edges=$m%d wall=$t%.1fs gc=${(gcMillis() - g0) / 1000.0}%.1fs")
          t
        }
        val tag = s"x_cc_${nEdges / 1000}k"
        val pb = probeOnce(spark)
        val t = math.min(one(tag, 1), one(tag, 2))
        recordProbe(tag, (pb, probeOnce(spark)))
        val tagStars = s"x_cc_stars_${nEdges / 1000}k"
        spark.conf.set("spark.graft.cc.distributed", "stars")
        val tStars =
          try math.min(one(tagStars, 1), one(tagStars, 2))
          finally spark.conf.unset("spark.graft.cc.distributed")
        recordProbe(tagStars, (probeOnce(spark), probeOnce(spark)))
        // above-threshold composition (VERDICT r10 task 8): force the
        // certificate count over blockEdgeThreshold at the 2M fixture so
        // the stars loop CONTINUES on the reduced certificate (the
        // Dedup.ccFixpoint overflow branch) — the row adjudicates that
        // the fallback composition still beats stars-from-scratch, not
        // just that it is correct (spec-asserted)
        val overflow = if (nEdges == 2000000) {
          val tagOver = s"x_cc_overflow_${nEdges / 1000}k"
          spark.conf.set("spark.graft.cc.blockEdgeThreshold", "1000")
          val tOver =
            try math.min(one(tagOver, 1), one(tagOver, 2))
            finally spark.conf.unset("spark.graft.cc.blockEdgeThreshold")
          recordProbe(tagOver, (probeOnce(spark), probeOnce(spark)))
          Seq(tagOver -> tOver)
        } else Seq.empty
        edges.unpersist()
        Seq(tag -> t, tagStars -> tStars) ++ overflow
      }.flatten
    } catch { case _: Throwable => Seq("x_cc_scaled" -> -1.0) }
  }

  /** Jaccard self-join alone in a fresh JVM — OPT-IN (`only=x_jac_solo`):
    * the x_dedup block always runs this row AFTER the 10x minhash join
    * (heapStart 1.2–5.4 GB), so its in-suite reading carries whatever
    * old-gen/codegen residue that join leaves. This block is the same
    * row (same synthetic corpus, same 256 shuffle partitions, same
    * minOf2 discipline) with nothing before it — the reading that
    * separates "the code path got slower" from "the JVM it runs in got
    * dirtier". Logs candidates/doc so a data-path change is visible. */
  private def jaccardSoloBench(spark: SparkSession,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import graft.ops.Dedup
    val prevPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      val synth = DedupStress.syntheticDocs(spark, 50000)
        .repartition(32).persist()
      persisted += synth
      val sn = synth.count() / 1000
      val cands = Dedup.prefixCandidates(
        Dedup.shingleSets(synth, "doc_id", "text", 1), 0.9).count()
      val tag = s"x_jac_solo_${sn}k"
      def one(i: Int): Double = {
        val g0 = gcMillis(); val h0 = heapUsedMb()
        val t = timed(force(Dedup.ngramJaccardPairs(synth, "doc_id", "text",
          n = 1, threshold = 0.9)))
        System.err.println(f"[bench] $tag%s rep$i%d wall=$t%.1fs " +
          f"cands/doc=${cands.toDouble / (sn * 1000)}%.3f " +
          f"gc=${(gcMillis() - g0) / 1000.0}%.1fs heapStart=${h0}%dMB")
        t
      }
      val pb = probeOnce(spark)
      val t = math.min(one(1), one(2))
      recordProbe(tag, (pb, probeOnce(spark)))
      synth.unpersist()
      Seq(tag -> t)
    } catch { case _: Throwable => Seq("x_jac_solo" -> -1.0)
    } finally {
      persisted.foreach(_.unpersist())
      spark.conf.set("spark.sql.shuffle.partitions", prevPartitions)
    }
  }

  /** Skyline at scale — OPT-IN (`only=x_skyline`): the 2-D Pareto
    * frontier of 4M synthetic (x, y) points (hash-derived uniform
    * doubles; expected frontier ~ln n). Logs the stage-2 input size (the
    * union of the 64 hash-group local frontiers): the frontier-of-
    * frontiers composition's scale claim is that stage 2 sees a few
    * hundred rows regardless of corpus, so the whole operator is one
    * parallel local sweep + a trivial global pass. */
  private def skylineBench(spark: SparkSession,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import graft.ops.Skyline
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      val n = 4000000L
      val pts = spark.range(n)
        .select(col("id"),
          (xxhash64(col("id"), lit(1)).cast("double") / lit(9.223372036854776e18))
            .as("x"),
          (xxhash64(col("id"), lit(2)).cast("double") / lit(9.223372036854776e18))
            .as("y"))
        .repartition(32).persist()
      persisted += pts
      pts.count()
      val stage2In = Skyline.localFrontiers(pts, "x", "y").count()
      val tag = "x_skyline_4m"
      def one(i: Int): Double = {
        val g0 = gcMillis()
        val t = timed(force(Skyline.paretoMax2(pts, "x", "y")))
        System.err.println(f"[bench] $tag%s rep$i%d n=$n%d " +
          f"stage2Input=$stage2In%d wall=$t%.1fs " +
          f"gc=${(gcMillis() - g0) / 1000.0}%.1fs")
        t
      }
      val pb = probeOnce(spark)
      val t = math.min(one(1), one(2))
      recordProbe(tag, (pb, probeOnce(spark)))
      pts.unpersist()
      Seq(tag -> t)
    } catch { case _: Throwable => Seq("x_skyline_4m" -> -1.0)
    } finally persisted.foreach(_.unpersist())
  }

  private def scaledFuzzy600Bench(spark: SparkSession,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import graft.ops.FuzzyJoin
    import org.apache.spark.sql.functions.{col, format_string}
    try {
      def names(n: Int) = spark.range(1, n + 1)
        .select(col("id"), format_string("Customer#%09d", col("id")).as("s"))
        .repartition(32)
      def candsPerKey(n: Int): Double =
        FuzzyJoin.candidatePairs(names(n), "id", "s", 1).count().toDouble / n
      val c150 = candsPerKey(150000)
      val c600 = candsPerKey(600000)
      System.err.println(f"[bench] x_fuzzy600 candidates/key " +
        f"150k=$c150%.2f 600k=$c600%.2f growth=${c600 / c150}%.2fx")
      def minOf2(tag: String, n: Int): Double = {
        def one(i: Int): Double = {
          val g0 = gcMillis()
          val t = timed(force(FuzzyJoin.editDistancePairs(names(n), "id", "s", 1)))
          System.err.println(f"[bench] $tag%s rep$i%d wall=$t%.1fs " +
            f"gc=${(gcMillis() - g0) / 1000.0}%.1fs")
          t
        }
        val pb = probeOnce(spark)
        val t = math.min(one(1), one(2))
        recordProbe(tag, (pb, probeOnce(spark)))
        t
      }
      Seq("x_fuzzy_150k" -> minOf2("x_fuzzy_150k", 150000),
        "x_fuzzy_600k" -> minOf2("x_fuzzy_600k", 600000))
    } catch { case _: Throwable => Seq("x_fuzzy600_scaled" -> -1.0) }
  }

  private def scaledDedup200Bench(spark: SparkSession, sfDir: String,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    import graft.ops.Dedup
    val prevPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    // 4x the data of the 50k block -> 4x its 256-partition sizing
    spark.conf.set("spark.sql.shuffle.partitions", "1024")
    System.gc()
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      def candsPerDoc(reps: Int): Double = {
        val scaled = DedupStress.replicateDocs(docs, reps)
          .repartition(32).persist()
        val n = scaled.count()
        val c = Dedup.minhashCandidates(
          Dedup.shingleSets(scaled, "doc_id", "text", 1), 48, 6).count()
        scaled.unpersist()
        c.toDouble / n
      }
      val cpd50 = candsPerDoc(10)
      val cpd200 = candsPerDoc(40)
      System.err.println(f"[bench] x_dedup200 minhash candidates/doc " +
        f"50k=$cpd50%.1f 200k=$cpd200%.1f growth=${cpd200 / cpd50}%.2fx")
      def minOf2(tag: String)(f: => Unit): Double = {
        def one(i: Int): Double = {
          val g0 = gcMillis()
          val t = timed(f)
          System.err.println(f"[bench] $tag%s rep$i%d wall=$t%.1fs " +
            f"gc=${(gcMillis() - g0) / 1000.0}%.1fs")
          t
        }
        val pb = probeOnce(spark)
        val t = math.min(one(1), one(2))
        recordProbe(tag, (pb, probeOnce(spark)))
        t
      }
      val scaled = DedupStress.replicateDocs(docs, 40)
        .repartition(32).persist()
      val n = scaled.count() / 1000
      val mh = minOf2("x_dedup_minhash_200k") { force(Dedup.minhashPairs(
        scaled, "doc_id", "text", n = 1, numHashes = 48, bands = 6,
        threshold = 0.9)) }
      scaled.unpersist()
      val synth = DedupStress.syntheticDocs(spark, 200000)
        .repartition(32).persist()
      val sn = synth.count() / 1000
      val pc50 = Dedup.prefixCandidates(
        Dedup.shingleSets(DedupStress.syntheticDocs(spark, 50000),
          "doc_id", "text", 1), 0.9).count()
      val pc200 = Dedup.prefixCandidates(
        Dedup.shingleSets(synth, "doc_id", "text", 1), 0.9).count()
      System.err.println(f"[bench] x_dedup200 prefix candidates/doc " +
        f"50k=${pc50 / 50000.0}%.3f 200k=${pc200 / 200000.0}%.3f " +
        f"growth=${(pc200 / 200000.0) / (pc50 / 50000.0)}%.2fx")
      val jac = minOf2("x_dedup_jaccard_200k") { force(Dedup.ngramJaccardPairs(
        synth, "doc_id", "text", n = 1, threshold = 0.9)) }
      synth.unpersist()
      Seq(s"x_dedup_minhash_${n}k" -> mh, s"x_dedup_jaccard_${sn}k" -> jac)
    } catch { case _: Throwable => Seq("x_dedup200_scaled" -> -1.0)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevPartitions)
    }
  }

  /** The reference's end-to-end ingest pipeline at scale: binary scan ->
    * dense ids -> mapPartitions decode+embed (the path the reference's
    * driver-side loop could not scale, `NB:235`) -> index build -> search.
    * Fixture images replicated 1000x in-flight (~12k real PNG/JPG decodes
    * across 32 partitions, distinct paths so the dense-id range shuffle
    * sees real key spread). One timing — the chain is build-dominated. */
  private def ingestEmbedIndexBench(spark: SparkSession)
      : Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    try {
      val embedder = new graft.embed.DeterministicEmbedder(64)
      val imgDir = graft.multimodal.ImageFixtures.ensure()
      def once(): Unit = {
        val scanned = graft.ingest.BinaryIngest
          .scan(spark, imgDir, "*.{png,jpg}")
          .crossJoin(spark.range(1000).select(col("id").as("rep")))
          .withColumn("path", concat(col("path"), lit("#"), col("rep")))
          .drop("rep")
        val ided = graft.ingest.BinaryIngest.withDenseIds(scanned)
        val embedded = graft.ingest.BinaryIngest
          .embedImages(ided, embedder, version = 1L)
        val idx = graft.index.VectorIndex.build(embedded,
          "bench_ingest_embed", "image_id", "embedding",
          projected = Seq("filepath"))
        force(idx.search(embedder.forQuery("columnar table of orders"), 10))
      }
      // min of two full timings — same rationale as the dedup block: the
      // decode/embed mapPartitions and index build paths only JIT at full
      // volume, and this row's round-4 spread (4.9-9.5s on identical
      // code) tracked JVM warmth, not the machine
      val a = timed(once())
      val t = math.min(a, timed(once()))
      Seq("x_ingest_embed_index" -> t)
    } catch { case _: Throwable => Seq("x_ingest_embed_index" -> -1.0) }
  }

  /** First-execution walls in THIS JVM — the honest proxy for a 100 TB
    * one-shot job (VERDICT r12 task 7: the r12 cold readings, q92 sf1
    * 135→56 s and q97 88→42 s, lived in BASELINE prose with no gradeable
    * row). OPT-IN via `only=x_cold` and meant to run ALONE in a fresh
    * JVM: it runs ahead of the headline warmup loop so a combined
    * invocation cannot silently warm its paths, each row is the first
    * execution of its operator chain, and there is deliberately NO
    * retry — a re-run is warm by definition, so a dirty bracketing probe
    * means rerun the whole JVM (the machine_flagged marker says so).
    * The minhash corpus replicates the sfDir documents to ~50k rows
    * (10x at sf0.1, 1x at sf1 — the anchored x_dedup scale); the row
    * name carries the realized size. */
  private def coldBench(spark: SparkSession, sfDir: String,
      wanted: String => Boolean,
      recordProbe: (String, ((Double, Double), (Double, Double))) => Unit)
      : Seq[(String, Double)] = {
    def coldRow(tag: String)(f: => Unit): Seq[(String, Double)] =
      if (!wanted(tag)) Seq.empty
      else {
        recordStat(tag, "sync_sec", syncDisk())
        val pb = probeOnce(spark)
        val g0 = gcMillis(); val h0 = heapUsedMb()
        val t = try timed(f) catch { case _: Throwable => -1.0 }
        recordStat(tag, "gc", (gcMillis() - g0) / 1000.0)
        recordStat(tag, "heapStart_mb", h0.toDouble)
        recordProbe(tag, (pb, probeOnce(spark)))
        Seq(tag -> t)
      }
    // NOTE (first live readings, r13): running the two graph rows in ONE
    // JVM mirrors a ~47 s one-time cost between them (35.7/82.0 in one
    // run, 83.4/33.3 in the next — the SUM is stable at ~117 s), so the
    // PER-ROW banded protocol is one row per fresh JVM via
    // only=x_cold_q92 / only=x_cold_q97 / only=x_cold_minhash;
    // only=x_cold runs all three and is honest only about the pair sum.
    val g = coldRow("x_cold_q92") {
      force(SparkEntry.queries("q92_triangles")(spark, sfDir)) }
    val j = coldRow("x_cold_q97") {
      force(SparkEntry.queries("q97_edge_jaccard")(spark, sfDir)) }
    // x_split_q97 (VERDICT r13 task 5): q97 with the triangle set
    // materialized and the wedge shuffle's dirty pages flushed OUTSIDE
    // timing at the stage boundary — its own namespace (not x_cold_*) so
    // only=x_cold_q97 keeps selecting exactly the honest row. The row
    // value is wedge_sec + attach_sec; the boundary flush is recorded as
    // mid_sync_sec.
    val js = if (!wanted("x_split_q97")) Seq.empty else {
      val tag = "x_split_q97"
      recordStat(tag, "sync_sec", syncDisk())
      val pb = probeOnce(spark)
      val g0 = gcMillis(); val h0 = heapUsedMb()
      val t = try {
        val (out, wedgeSec) = edgeJaccardSplit(spark, sfDir,
          () => recordStat(tag, "mid_sync_sec", syncDisk()))
        val t1 = System.nanoTime()
        force(out)
        val attachSec = (System.nanoTime() - t1) / 1e9
        recordStat(tag, "wedge_sec", wedgeSec)
        recordStat(tag, "attach_sec", attachSec)
        wedgeSec + attachSec
      } catch { case _: Throwable => -1.0 }
      recordStat(tag, "gc", (gcMillis() - g0) / 1000.0)
      recordStat(tag, "heapStart_mb", h0.toDouble)
      recordProbe(tag, (pb, probeOnce(spark)))
      Seq(tag -> t)
    }
    // same in-block shuffle sizing as the anchored x_dedup row (data-
    // sized partitions for the 40M-candidate verify join), restored after
    val prevPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    // realized row name, updated once the corpus size is known, so the
    // failure fallback row carries the SAME suffixing scheme as the
    // success row (ADVICE r13: a bare "x_cold_minhash" failure row would
    // not join the banded size-suffixed readings)
    var minhashTag = "x_cold_minhash"
    try {
      val m = if (!wanted(minhashTag)) Seq.empty else {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val docReps = math.max(1L, 50000L / math.max(docs.count(), 1L)).toInt
        val scaled = DedupStress.replicateDocs(docs, docReps)
          .repartition(32).persist()
        val n = scaled.count() / 1000
        minhashTag = s"x_cold_minhash_${n}k"
        val row = coldRow(minhashTag) {
          force(graft.ops.Dedup.minhashPairs(scaled, "doc_id", "text",
            n = 1, numHashes = 48, bands = 6, threshold = 0.9)) }
        scaled.unpersist()
        row
      }
      g ++ j ++ js ++ m
    } catch { case _: Throwable => g ++ j ++ js :+ (minhashTag -> -1.0)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevPartitions)
  }

  /** Measurement mirror of [[graft.ops.GraphOps.edgeJaccard]] with the
    * triangle set MATERIALIZED between the wedge/closing phase and the
    * attach phase, and `between()` invoked at that boundary (VERDICT r13
    * task 5: the honest x_cold_q97 row spreads 40.6-64.0 s because its
    * own wedge-shuffle dirty pages are flushed by the kernel DURING the
    * attach stages — this variant pays that flush at the boundary,
    * outside both timed phases, to test whether the spread collapses).
    * The attach phase is replicated line-for-line from edgeJaccard
    * (triEdges aggregation + the three UNforced m-vs-m joins, the §c28
    * never-force rule); EdgeJaccardSplitSpec pins the replica's output
    * equal to the engine operator so the two cannot drift apart.
    * Returns the lazy attach-phase frame plus the wedge-phase wall. */
  private[graft] def edgeJaccardSplit(spark: SparkSession, sfDir: String,
      between: () => Unit): (DataFrame, Double) = {
    import org.apache.spark.sql.functions._
    import graft.ops.GraphOps
    val edges = GraphOps.coOccurrencePairs(
      spark.read.parquet(s"$sfDir/lineitem.parquet"),
      "l_orderkey", "l_partkey")
    val (e, deg, tri0) = GraphOps.triangleFrames(edges, "item_a", "item_b")
    val t0 = System.nanoTime()
    val tri = tri0.localCheckpoint() // eager: runs the wedge+closing jobs
    val wedgeSec = (System.nanoTime() - t0) / 1e9
    between()
    val triEdges = tri
      .select(explode(array(
        struct(least(col("s"), col("a")).as("u"),
          greatest(col("s"), col("a")).as("v")),
        struct(least(col("s"), col("b")).as("u"),
          greatest(col("s"), col("b")).as("v")),
        struct(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v")))).as("te"))
      .select(col("te.u").as("u"), col("te.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("c"))
    val common = coalesce(col("c"), lit(0L))
    val out = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .join(triEdges, Seq("u", "v"), "left")
      .select(col("u"), col("v"), common.as("common"),
        when(col("du") + col("dv") - lit(2) - common > 0,
          common / (col("du") + col("dv") - lit(2.0) - common))
          .otherwise(lit(0.0)).as("jaccard"))
    (out, wedgeSec)
  }

  private def jsonMap(kvs: Seq[(String, Double)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")

  /** Whether `maxHeapBytes` suffices for a suite run over a fixture of
    * `fixtureBytes` on-disk parquet. Empirical rule from the recorded
    * runs: the full suite wants ~300x the fixture's compressed footprint
    * of driver heap (sf0.1 = 17.5 MB runs at the 8g default = 460x; sf1
    * ~175 MB needs the documented 64g = 374x and OOMs in the q92 warmup
    * at 8g = 46x — NOTES_r11 §8). A startup check, not a limit: the
    * pre-r12 behavior was to OOM 20 minutes into the run. */
  private[graft] def heapSufficient(fixtureBytes: Long,
      maxHeapBytes: Long): Boolean =
    maxHeapBytes >= 300L * fixtureBytes

  private def fixtureFootprint(sfDir: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
      else f.length()
    val d = new java.io.File(sfDir)
    if (d.exists) size(d) else 0L
  }

  /** Optional args (useful under a warm sbt shell where env vars are fixed):
    * `runMain graft.Bench [only=q15_jaccard_pairs,...] [reps=N] [sf=DIR]`. */
  def main(args: Array[String]): Unit = {
    val argMap = args.flatMap { a =>
      a.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
    }.toMap
    val sfDir = argMap.getOrElse("sf",
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = argMap.getOrElse("reps",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3")).toInt
    val only = argMap.get("only").orElse(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Fail fast on an under-provisioned scale run (VERDICT r11 task 4):
    // the sf1 suite OOMs mid-run in the q92 warmup at the 8g default —
    // previously only prose in NOTES_r11 §8, now a startup check that
    // names the requirement instead of dying 20 minutes in.
    locally {
      val fixtureBytes = fixtureFootprint(sfDir)
      val maxHeap = Runtime.getRuntime.maxMemory
      if (!heapSufficient(fixtureBytes, maxHeap)) {
        val msg =
          s"driver heap ${maxHeap >> 20} MB is under-provisioned for the " +
            s"${fixtureBytes >> 20} MB fixture at $sfDir (need ~300x the " +
            "on-disk parquet bytes): sf1-class runs require " +
            "SPARK_DRIVER_MEM=64g (NOTES_r11 §8)"
        // The 300x rule is calibrated to the FULL suite's accumulated
        // state; the documented solo-adjudication protocol runs SINGLE
        // heavy rows at sf1 on 8-32g heaps and must not hard-fail at
        // startup (ADVICE r12). But a waiver for EVERY only= subset
        // restores the OOM-20-minutes-in failure mode for multi-row heavy
        // subsets (ADVICE r13: only=x_cold at sf1 runs q92+q97+minhash
        // cold on the default heap) — so the waiver is scoped: a subset
        // selecting at most ONE heavy row warns and proceeds; anything
        // heavier hard-fails like the full suite unless
        // SPARK_GRAFT_SKIP_HEAP_CHECK=1.
        val skip = sys.env.get("SPARK_GRAFT_SKIP_HEAP_CHECK").contains("1")
        val heavyRows = only.map { sels =>
          val perSel = sels.toSeq.map {
            case "x_cold" => 3 // bare selector runs all three cold rows
            case s if s.startsWith("x_cold_") => 1
            case s if s.startsWith("x_split") => 1
            case s if s.startsWith("x_dedup200") => 2
            case s if s.startsWith("x_dedup") => 4
            case s if s.startsWith("q92") || s.startsWith("q97") => 1
            case _ => 0
          }
          perSel.sum
        }.getOrElse(Int.MaxValue)
        require(heavyRows <= 1 || skip, msg +
          s" — subset selects $heavyRows heavy rows (waiver covers one)")
        System.err.println(s"[bench] WARNING: $msg — proceeding (" +
          (if (skip) "SPARK_GRAFT_SKIP_HEAP_CHECK=1"
           else "single-heavy-row subset") + ")")
      }
    }
    // GraftSession: the engine's opinionated configs (extensions, AQE +
    // skew-join, partition sizing) are what the bench measures
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val queries = headline.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))

    // Warmup gate (round 13 — VERDICT r12 task 1): every driver round
    // since r9 graded its first ~2 minutes in a cold regime (BENCH_r12:
    // all 22 machine flags sat in the early suite under a 0.351
    // before-sentinel, 2.7x the 0.13 floor, while everything after read
    // 0.09-0.13 — the fourth consecutive round of the §c4 pattern), and
    // early block-retries re-measured into the same window. Before
    // ANYTHING graded — the start sentinels included, since they set the
    // probe floors — spin the machine probe until BOTH readings land
    // inside 1.25x the calibrated §c4 floors, bounded to ~90 s so a
    // genuinely contended box degrades to the old flagged behavior
    // instead of stalling. The spin trail lands in
    // row_stats("warmup_gate"); flags after this gate mean mid-run
    // contention, not cold start.
    // Admission is 1.25x, retry band 1.5x — DELIBERATELY stricter
    // (VERDICT r13 task 6): both r13 runs cleared the gate at
    // cpu_last 0.17-0.19 (1.3-1.5x floor) and then block-retried the
    // first 3-4 rows anyway, because a gate admitting at exactly the
    // retry threshold leaves the still-settling first block zero
    // headroom. The retries all landed on first-pass walls (q01
    // retry1_min 0.197 = its final min), i.e. they re-measured fine
    // rows — a few more 2 s spins up front are cheaper.
    locally {
      val t0 = System.nanoTime()
      recordStat("warmup_gate", "sync_sec", syncDisk())
      var p = probeOnce(spark)
      recordStat("warmup_gate", "cpu_first", p._1)
      recordStat("warmup_gate", "par_first", p._2)
      var spins = 0
      while ((p._1 > 1.25 * cpuProbeFloor || p._2 > 1.25 * parProbeFloor) &&
          (System.nanoTime() - t0) / 1e9 < 90.0) {
        spins += 1
        Thread.sleep(2000)
        p = probeOnce(spark)
      }
      recordStat("warmup_gate", "spins", spins.toDouble)
      recordStat("warmup_gate", "sec", (System.nanoTime() - t0) / 1e9)
      recordStat("warmup_gate", "cpu_last", p._1)
      recordStat("warmup_gate", "par_last", p._2)
    }
    val sentBefore = sentinels(spark, reps)
    // Rep retry (round-5): one contended rep can poison a recorded median
    // (BENCH_r04: q09 median 3.81s against six quiet-box runs at
    // 0.34-0.63s). A rep >3x the query's running min triggers a machine
    // probe; if the probe is out of band — above 1.5x the better of the
    // run-start cpu sentinel and the known good band (BASELINE §c4) — the
    // rep was contention-marred, is re-run once, and the query is listed
    // under "retried" in the JSON. An in-band probe means the slowness is
    // real and the timing stands.
    val cpuBandRef = math.min(sentBefore("cpu").min, cpuProbeFloor)
    // known good par band is 0.08-0.10 (BASELINE §c4/§c5); like cpuBandRef,
    // take the better of the run-start reading and the band ceiling so a
    // contended start doesn't inflate the reference
    val parBandRef = math.min(sentBefore("par").min, parProbeFloor)
    def probeInBand(p: (Double, Double)): Boolean =
      p._1 <= 1.5 * cpuBandRef && p._2 <= 1.5 * parBandRef
    val retried = scala.collection.mutable.LinkedHashSet[String]()
    val probes = scala.collection.mutable.LinkedHashMap[
      String, ((Double, Double), (Double, Double))]()
    // Cold block (round 13 — VERDICT r12 task 7): runs BEFORE the
    // headline warmup loop so a combined invocation cannot silently warm
    // the paths it exists to measure first-execution.
    // `only=x_cold` runs all three rows; `only=x_cold_q92` (etc.) runs a
    // single row — the per-row banded protocol, since the in-JVM pair
    // mirrors a floating one-time cost (see coldBench). Prefix match so
    // `x_cold_minhash` selects the size-suffixed row name.
    val coldRows: Seq[(String, Double)] =
      if (!only.exists(_.exists(s =>
          s.startsWith("x_cold") || s.startsWith("x_split")))) Seq.empty
      else coldBench(spark, sfDir,
        // two-direction prefix match (ADVICE r13): the minhash row's
        // realized name is size-suffixed (x_cold_minhash_50k), so a
        // selector naming the realized row must still clear the
        // UNSUFFIXED pre-gate ("x_cold_minhash") that guards the corpus
        // build — sel.startsWith(tag) covers that direction,
        // tag.startsWith(sel) the usual one. The bare "x_cold" selector
        // keeps selecting exactly the three honest cold rows; the
        // x_split_q97 variant lives in its own namespace and needs its
        // exact selector.
        tag => only.exists(o =>
          (o.contains("x_cold") && tag.startsWith("x_cold")) ||
          o.exists(sel =>
            (sel.startsWith("x_cold_") || sel.startsWith("x_split")) &&
            (tag.startsWith(sel) || sel.startsWith(tag)))),
        (t, pp) => probes(t) = pp)
    // warmup: JVM/codegen/file-listing paths, untimed
    queries.foreach { name =>
      try force(SparkEntry.queries(name)(spark, sfDir))
      catch { case _: Throwable => () }
    }
    def repBlock(name: String): Seq[Double] = {
      def rep(): Double =
        try timed(force(SparkEntry.queries(name)(spark, sfDir)))
        catch { case _: Throwable => -1.0 }
      // pay the predecessor block's dirty-page flush HERE, not inside the
      // timed reps (the r13 write-back finding — see syncDisk); the wall
      // is recorded so a multi-second flush is visible in row_stats
      val sy = syncDisk()
      if (sy > 0.25) recordStat(name, "sync_sec", sy)
      val pb = probeOnce(spark)
      var minSoFar = Double.MaxValue
      val times = (1 to reps).map { _ =>
        var t = rep()
        if (t >= 0 && minSoFar < Double.MaxValue && t > 3 * minSoFar &&
            t - minSoFar > 0.25 && cpuSentinelOnce(spark) > 1.5 * cpuBandRef) {
          val t2 = rep()
          if (t2 >= 0) { retried += name; t = math.min(t, t2) }
        }
        if (t >= 0) minSoFar = math.min(minSoFar, t)
        t
      }
      probes(name) = (pb, probeOnce(spark))
      times
    }
    recordStat("jobconst", "start_per_job", jobConstProbe(spark))
    // OPT-IN since round 10 (VERDICT r9 task 2): the three forced-loop
    // bisect rows answered their question (the r8 observe penalty was the
    // listener-bus backlog) and cost ~90 s of every default run — worse,
    // the ~180 s of forced-loop supersteps they insert AHEAD of the 50k
    // dedup block leave tens of GB of uncollected round-frame garbage on
    // the heap (bench_full r9: heapStart at the dedup block 17.8-35.8 GB
    // vs bench1's 2.9-6.2 GB), the prime suspect for the r9 minhash /
    // ivf_build drift in the artifact of record. `only=x_q130_bisect`
    // re-runs them; the default suite keeps the q130 default-regime row
    // plus the opt-in x_kcore forced-loop fixture anchor.
    val wantBisect = only.exists(_.contains("x_q130_bisect"))
    // q130's fixpoint telemetry (rounds, per-round frontier + wall) from
    // the LAST rep of a block — the in-JSON form of the §c17 stderr lines
    def recordCoreness(tag: String): Unit =
      graft.ops.GraphOps.lastCorenessTelemetry.foreach { t =>
        recordStat(tag, "rounds", t.rounds.toDouble)
        recordStat(tag, "frontier_sum", t.frontiers.map(math.max(_, 0L)).sum.toDouble)
        t.roundWallsSec.zipWithIndex.foreach { case (wv, i) =>
          recordStat(tag, f"w$i%02d", wv) }
        t.frontiers.zipWithIndex.foreach { case (fv, i) =>
          recordStat(tag, f"f$i%02d", fv.toDouble) }
      }
    // The r8 in-suite bisect (VERDICT r9 task 1): q130 quadrupled in-suite
    // (44 -> 178 s median, probes in band) in the round that switched its
    // convergence action to an Observation metric. Hypothesis: `get`
    // waits on the ASYNC ExecutionListenerBus, so in a hot suite every
    // round blocks behind the whole session's listener backlog — invisible
    // isolated (empty queue). These rows run the SAME query at the SAME
    // suite position under each convergence formulation, with per-round
    // walls in row_stats, so the artifact adjudicates the mechanism.
    def corenessBisect(): Seq[(String, Seq[Double])] =
      Seq("count" -> "dist", "observe" -> "observe",
          "isempty" -> "isempty").map { case (m, suffix) =>
        val name = s"q130_coreness_$suffix"
        spark.conf.set("spark.graft.coreness.convergence", m)
        // all three rows force the DISTRIBUTED shuffle loop (the default
        // q130 row above takes the bounded-local path at fixture scale,
        // and round 9's block regime would otherwise claim the `count`
        // row) — the bisect compares convergence formulations, not regimes
        spark.conf.set("spark.graft.coreness.localEdgeThreshold", "0")
        spark.conf.set("spark.graft.coreness.distributed", "loop")
        try {
          val pb = probeOnce(spark)
          val times = (1 to 2).map { _ =>
            val t = try timed(force(SparkEntry.queries("q130_coreness")(spark, sfDir)))
              catch { case _: Throwable => -1.0 }
            recordCoreness(name)
            t
          }
          probes(name) = (pb, probeOnce(spark))
          name -> times
        } finally {
          spark.conf.unset("spark.graft.coreness.convergence")
          spark.conf.unset("spark.graft.coreness.localEdgeThreshold")
          spark.conf.unset("spark.graft.coreness.distributed")
        }
      }
    val firstPass: Seq[(String, Seq[Double])] =
      queries.flatMap { name =>
        val base = Seq(name -> repBlock(name))
        if (name == "q130_coreness") {
          recordCoreness(name)
          if (wantBisect) base ++ corenessBisect() else base
        } else base
      }
    // Block retry (round-6): a rep block bracketed by an out-of-band probe
    // ran under contention — its min is as suspect as its median (the
    // uniformly-slow-block case the rep-retry cannot see). Re-run such
    // blocks once, AFTER the whole first pass (bursts are multi-minute;
    // by suite end they have usually passed), and keep the re-run when its
    // own probes are in band, else the better min. Capped so a fully
    // contended box degrades to the old behavior instead of looping — and
    // the budget goes to the MOST EXPENSIVE suspect blocks first: a
    // contended start otherwise spends all retries on sub-second relational
    // rows while the graph-block rows the retry exists for go unretried
    // (the first live full run did exactly that).
    val blockRetried = scala.collection.mutable.LinkedHashSet[String]()
    val toRetry: Set[String] = firstPass.collect {
      // bisect rows (q130_coreness_observe/_isempty) are not registry
      // queries — repBlock can't re-run them, so they never retry
      case (name, times) if SparkEntry.queries.contains(name) &&
        times.forall(_ >= 0) && {
        val (pb, pa) = probes(name)
        !probeInBand(pb) || !probeInBand(pa)
      } => name -> times.min
    }.sortBy(-_._2).take(8).map(_._1).toSet
    val runs: Seq[(String, Seq[Double])] = firstPass.map { case (name, times) =>
      if (!toRetry(name)) name -> times
      else {
        blockRetried += name
        // <= 2 bounded re-runs (VERDICT r11 task 8): the r11 sf1 artifact
        // carried four flagged rows whose single retry landed in another
        // burst — a second attempt (with its own probes) would have
        // cleaned them for ~1 min of suite time. A probe-clean attempt
        // always wins over a dirty one; among dirty attempts the better
        // min stands. Every attempt's min lands in row_stats as the
        // in-artifact retry trail.
        var bestTimes = times
        var bestProbes = probes(name)
        var bestClean = false
        var attempt = 0
        while (attempt < 2 && !bestClean) {
          attempt += 1
          val times2 = repBlock(name) // overwrites probes(name) with its own
          val p2 = probes(name)
          val clean2 = probeInBand(p2._1) && probeInBand(p2._2)
          recordStat(name, s"retry${attempt}_min", times2.min)
          if (times2.forall(_ >= 0) &&
              (clean2 || times2.min < bestTimes.min)) {
            bestTimes = times2; bestProbes = p2; bestClean = clean2
          }
        }
        probes(name) = bestProbes
        name -> bestTimes
      }
    }
    // extras run on a full bench, or when named in `only` ("x_vec",
    // "x_ingest", "x_dedup") — so a contended-run row can be re-anchored
    // alone without paying for the whole suite
    def wantExtra(tag: String) = only.forall(_.contains(tag))
    // every extras row records its OWN bracketing probe pair under the
    // emitted row name (r7 gap: block-level pairs under "x_vec"/"x_ingest"
    // left per-row probes null in bench_full.json — exactly the rows a
    // contended tail corrupted with no way to self-adjudicate)
    def probedBlock[A](tag: String, want: Boolean, empty: A)(f: => A): A =
      if (!want) empty
      else {
        val sy = syncDisk()
        if (sy > 0.25) recordStat(tag, "sync_sec", sy)
        val pb = probeOnce(spark)
        val r = f
        probes(tag) = (pb, probeOnce(spark))
        r
      }
    // Extras block retry (round 12 — VERDICT r11 task 1): the r11 driver
    // artifact FLAGGED x_dedup_minhash_50k (91.1 s, probes at 11x the
    // run's floor) yet shipped `retried: []` — the retry budget only
    // covered headline rep blocks, so the round's headline optimization
    // had no clean reading in the artifact of record. Any extras block
    // whose KEPT rows carry an out-of-band probe is re-run whole
    // (<= 2 attempts per block, <= 4 block re-runs per suite so a
    // persistently contended box degrades to flagged rows rather than
    // looping). Per row, a probe-clean attempt beats a dirty one; among
    // equally-(un)clean attempts the lower wall wins. Every superseded
    // reading lands in row_stats (`retryN_prev`) and retried blocks are
    // named in the JSON `extras_retried` — the in-artifact retry trail.
    type ProbePair = ((Double, Double), (Double, Double))
    val extrasRetried = scala.collection.mutable.LinkedHashMap[String, Int]()
    var extrasRetryBudget = 4
    case class ExtraRow(min: Double, medv: Double, probe: Option[ProbePair])
    def retryingExtrasPair(blockTag: String)(
        run: ((String, ProbePair) => Unit)
          => (Seq[(String, Double)], Seq[(String, Double)]))
        : (Seq[(String, Double)], Seq[(String, Double)]) = {
      def attempt(): Seq[(String, ExtraRow)] = {
        val local =
          scala.collection.mutable.LinkedHashMap[String, ProbePair]()
        val (mins0, meds0) = run((t, pp) => local(t) = pp)
        val medMap = meds0.toMap
        mins0.map { case (t, v) =>
          t -> ExtraRow(v, medMap.getOrElse(t, v), local.get(t)) }
      }
      def isClean(pp: Option[ProbePair]): Boolean =
        pp.exists(q => probeInBand(q._1) && probeInBand(q._2))
      def dirty(rows: Seq[(String, ExtraRow)]): Boolean =
        rows.exists { case (_, a) =>
          a.min >= 0 && a.probe.isDefined && !isClean(a.probe) }
      var best = attempt()
      var tries = 0
      while (dirty(best) && tries < 2 && extrasRetryBudget > 0) {
        tries += 1; extrasRetryBudget -= 1
        extrasRetried(blockTag) = tries
        val next = attempt().toMap
        best = best.map { case prev @ (t, a) =>
          next.get(t) match {
            case Some(n) if n.min >= 0 || a.min < 0 =>
              val (c1, c2) = (isClean(a.probe), isClean(n.probe))
              val takeNext =
                if (c1 != c2) c2
                else n.min >= 0 && (a.min < 0 || n.min < a.min)
              // retryN_prev marks only readings the merge actually
              // SUPERSEDED — a clean kept row in a retried block is not
              // a retry casualty (ADVICE r12: recording every row
              // overstated what the trail replaced)
              if (takeNext) {
                recordStat(t, s"retry${tries}_prev", a.min); t -> n
              } else prev
            case _ => prev
          }
        }
      }
      best.foreach { case (t, a) => a.probe.foreach(probes(t) = _) }
      (best.map { case (t, a) => t -> a.min },
        best.map { case (t, a) => t -> a.medv })
    }
    def retryingExtrasSeq(blockTag: String, want: Boolean)(
        run: ((String, ProbePair) => Unit) => Seq[(String, Double)])
        : Seq[(String, Double)] =
      if (!want) Seq.empty
      else retryingExtrasPair(blockTag)(cb => { val r = run(cb); (r, r) })._1
    val (vecMin, vecMed) =
      if (wantExtra("x_vec"))
        retryingExtrasPair("x_vec")(cb =>
          scaledVectorBench(spark, sfDir, reps, cb))
      else (Seq.empty[(String, Double)], Seq.empty[(String, Double)])
    val ingestBench =
      retryingExtrasSeq("x_ingest", wantExtra("x_ingest")) { cb =>
        val pb = probeOnce(spark)
        val r = ingestEmbedIndexBench(spark)
        val pp = (pb, probeOnce(spark))
        r.foreach { case (t, _) => cb(t, pp) }
        r
      }
    recordStat("jobconst", "mid_per_job", jobConstProbe(spark))
    val dedupScaled = retryingExtrasSeq("x_dedup", wantExtra("x_dedup"))(
      cb => scaledDedupBench(spark, sfDir, cb))
    // OPT-IN only (never on a bare full run): ~5 min stress block
    val dedup200 = retryingExtrasSeq("x_dedup200",
      only.exists(_.contains("x_dedup200")))(
      cb => scaledDedup200Bench(spark, sfDir, cb))
    // OPT-IN only: fuzzy-join candidate growth (150k -> 600k keys)
    val fuzzy600 = retryingExtrasSeq("x_fuzzy600",
      only.exists(_.contains("x_fuzzy600")))(
      cb => scaledFuzzy600Bench(spark, cb))
    // OPT-IN only: containment-join candidate growth (50k -> 200k docs)
    val containment = retryingExtrasSeq("x_containment",
      only.exists(_.contains("x_containment")))(
      cb => scaledContainmentBench(spark, cb))
    // OPT-IN only: cross-relation jaccard candidate growth (50k -> 200k)
    val crossJac = retryingExtrasSeq("x_cross",
      only.exists(_.contains("x_cross")))(
      cb => crossJaccardBench(spark, cb))
    // OPT-IN only: label-propagation growth (500k -> 2M edges)
    val lpa = retryingExtrasSeq("x_lpa",
      only.exists(_.contains("x_lpa")))(cb => lpaGrowthBench(spark, cb))
    // OPT-IN only: k-core growth (500k -> 2M edges) + instrumented fixture
    val kcore = retryingExtrasSeq("x_kcore",
      only.exists(_.contains("x_kcore")))(
      cb => kcoreGrowthBench(spark, sfDir, cb))
    // OPT-IN only: incremental-CC fold cost vs corpus size
    val incCc = retryingExtrasSeq("x_inc_cc",
      only.exists(_.contains("x_inc_cc")))(cb => incCcBench(spark, cb))
    // OPT-IN only: CC regime adjudication (block union-find vs stars loop)
    val ccGrowth = retryingExtrasSeq("x_cc",
      only.exists(_.contains("x_cc")))(cb => ccGrowthBench(spark, cb))
    // OPT-IN only: the jaccard row alone in a fresh JVM (drift adjudication)
    val jacSolo = retryingExtrasSeq("x_jac_solo",
      only.exists(_.contains("x_jac_solo")))(
      cb => jaccardSoloBench(spark, cb))
    // OPT-IN only: skyline over 4M synthetic points
    val skyline = retryingExtrasSeq("x_skyline",
      only.exists(_.contains("x_skyline")))(cb => skylineBench(spark, cb))
    // anchored k=2 fuzzy row: full bench or `only=x_fuzzy_k2`
    val fuzzyK2 = retryingExtrasSeq("x_fuzzy_k2", wantExtra("x_fuzzy_k2"))(
      cb => fuzzyK2Bench(spark, sfDir, cb))
    // anchored sparse tf-idf row on the large-vocab corpus: full bench or
    // `only=x_tfidf`
    val tfidf = retryingExtrasSeq("x_tfidf", wantExtra("x_tfidf"))(
      cb => tfidfBench(spark, cb))
    recordStat("jobconst", "end_per_job", jobConstProbe(spark))
    val sentAfter = sentinels(spark, reps)

    val mins = coldRows ++ runs.map { case (n, ts) =>
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min) } ++
      vecMin ++ ingestBench ++ dedupScaled ++ dedup200 ++ fuzzy600 ++
      containment ++ crossJac ++ lpa ++ kcore ++ incCc ++ ccGrowth ++ jacSolo ++ skyline ++ fuzzyK2 ++ tfidf
    val meds = coldRows ++ runs.map { case (n, ts) =>
      n -> (if (ts.exists(_ < 0)) -1.0 else med(ts)) } ++
      vecMed ++ ingestBench ++ dedupScaled ++ dedup200 ++ fuzzy600 ++
      containment ++ crossJac ++ lpa ++ kcore ++ incCc ++ ccGrowth ++ jacSolo ++ skyline ++ fuzzyK2 ++ tfidf
    // JIT code-cache occupancy (MB used across the CodeHeap pools) at run
    // end: a full suite generates hundreds of janino classes, and the 50k
    // dedup rows measured ~2x slower in full-suite context than isolated
    // with IDENTICAL code + machine sentinels (round 4) — if this number
    // sits near the reserved cap on a slow run, the JIT stopped compiling
    // and the row measured interpreted code, not the engine.
    val sent = Seq(
      "cpu_before_min" -> sentBefore("cpu").min,
      "cpu_after_min" -> sentAfter("cpu").min,
      "shuffle_before_min" -> sentBefore("shuffle").min,
      "shuffle_after_min" -> sentAfter("shuffle").min,
      "par_before_min" -> sentBefore("par").min,
      "par_after_min" -> sentAfter("par").min,
      "codecache_used_mb" -> codeCacheUsedMb())
    val total = mins.map(_._2).filter(_ >= 0).sum
    val retriedJson = retried.map("\"" + _ + "\"").mkString("[", ",", "]")
    val blockRetriedJson =
      blockRetried.map("\"" + _ + "\"").mkString("[", ",", "]")
    val extrasRetriedJson = extrasRetried
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Machine adjudication IN the artifact (round 11 — VERDICT r10 task 3):
    // the r10 run shipped 7.7x medians whose elevated probes lived only in
    // bench_full.json, so the graded compact line carried poisoned numbers
    // with no marker. Any row whose KEPT block is bracketed by an
    // out-of-band probe — the SAME probeInBand floor the retry machinery
    // uses (better of the run-start sentinel and the known good band, so
    // a contended start can't launder itself) — is machine-flagged: its
    // value is the box, not the engine, and both output lines say so.
    // Replayed against the r10 driver artifact this flags exactly the 19
    // rows of the contention window the verdict adjudicated by hand.
    // The block retry has first shot at replacing such rows with a clean
    // re-run; the flag covers whatever the retry budget or a persistent
    // burst leaves dirty.
    val machineFlagged = probes.collect {
      case (n, (pb, pa)) if !probeInBand(pb) || !probeInBand(pa) => n
    }.toSeq
    val (cpuFloorUsed, parFloorUsed) = (cpuBandRef, parBandRef)
    val machineFlaggedJson =
      machineFlagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-row machine context: cpu/par probe pairs bracketing each rep
    // block — read a row's time THROUGH its own probes (in band: the
    // number is the engine; out of band: the number is the box)
    val probesJson = probes.map { case (n, ((cb, rb), (ca, ra))) =>
      "\"" + n + "\":" + jsonMap(Seq("cpu_b" -> cb, "par_b" -> rb,
        "cpu_a" -> ca, "par_a" -> ra))
    }.mkString("{", ",", "}")
    // per-row self-adjudication (gc/heap/candidates/fixpoint walls +
    // the jobconst inflation curve) — file artifact only, never stdout-
    // budgeted; the drift-row protocol reads THESE instead of stderr
    val rowStatsJson = rowStats.map { case (n, m) =>
      "\"" + n + "\":" + jsonMap(m.toSeq)
    }.mkString("{", ",", "}")
    // Full artifact: the ~12 KB detailed line has NEVER fit the driver's
    // 2000-char stdout tail window (BENCH_r01..r06 all carry
    // "parsed": null) — so the detail goes to a file the judge can read
    // directly, AND to stdout for manual runs. Field order puts probes
    // BEFORE the query maps so whatever slice of this line survives in
    // the tail window ends with queries_median + sentinel (VERDICT r6 #1).
    val fullJson = f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":$reps%d,"retried":$retriedJson%s,"block_retried":$blockRetriedJson%s,"extras_retried":$extrasRetriedJson%s,"machine_flagged":$machineFlaggedJson%s,"probe_floor":{"cpu":$cpuFloorUsed%.3f,"par":$parFloorUsed%.3f},"probes":$probesJson%s,"row_stats":$rowStatsJson%s,"queries":${jsonMap(mins)}%s,"queries_median":${jsonMap(meds)}%s,"sentinel":${jsonMap(sent)}%s,"sf":"$sfDir%s"}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        (fullJson + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // read-only CWD: stdout still has it
    println(fullJson)
    // Final COMPACT line, guaranteed to sit whole inside the last 2000
    // chars of stdout even with sbt's "[success] Total time" footer after
    // it: per-query MEDIANS (the robust stat the driver grades
    // round-over-round), no probes, no sentinel (both live on the
    // detailed line above and in bench_full.json).
    //
    // The budget is ENFORCED since round 10: BENCH_r09 proved the old
    // "drop a decimal" fallback insufficient — compactLine(1) at 87 rows
    // was ~2070 chars, so the tail window chopped q01-q04 and the driver
    // recorded parsed:null on the round's artifact of record. Now: try 2
    // then 1 decimals (trailing zeros stripped); if still over, elide
    // x_ extras LONGEST NAME FIRST (max chars recovered per row lost;
    // registry q-rows are never dropped) and say how many were elided —
    // the full map always lives in bench_full.json.
    def fmtV(v: Double, dp: Int): String = {
      val s = s"%.${dp}f".format(v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      else s
    }
    // the compact line carries the machine adjudication too: a flagged
    // row's median is the BOX, not the engine — the full name list when it
    // fits, the count alone when the budget is tight (names always live in
    // bench_full.json's machine_flagged)
    val flaggedCompactFull =
      if (machineFlagged.isEmpty) ""
      else s""","flagged":$machineFlaggedJson"""
    val flaggedCompactCount =
      if (machineFlagged.isEmpty) ""
      else s""","flagged_n":${machineFlagged.size}"""
    def compactLine(dp: Int, rows: Seq[(String, Double)], omit: Int,
        flaggedJson: String): String = {
      val m = rows.map { case (k, v) => "\"" + k + "\":" + fmtV(v, dp) }
        .mkString("{", ",", "}")
      val om = if (omit > 0) s""","omit":$omit""" else ""
      val sfShort = sfDir.split('/').last
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$m%s,"kind":"med","detail":"bench_full.json"$flaggedJson%s$om%s,"sf":"$sfShort%s"}"""
    }
    // essentials-only form (VERDICT r14 task 7): the r14 run proved the
    // count-only candidate above is NOT the floor — 84 rows at 1 decimal
    // measured 1970 chars, so the elision loop silently dropped 4 x_ rows
    // from the driver's parsed map (x_dedup_collapse_50k among them: a row
    // the driver cannot parse is a row the driver cannot grade). Two
    // structural fixes: (a) this form keeps ONLY the driver-contract keys
    // (metric/value/unit/queries/sf + the flagged count) — "kind" and
    // "detail" live on the full line and in bench_full.json; (b) build.sbt
    // sets `showSuccess := false`, removing the ~76-char "[success] Total
    // time ..." footer sbt used to append INSIDE the driver's 2000-char
    // stdout tail window, which is what the old 1880 budget was reserving
    // for (verified locally with the driver's exact `sbt -batch "runMain
    // graft.Bench"` invocation before raising). Window math: 2000 - 7
    // ("[info] " prefix) - 1 (newline) = 1992 usable; budget 1950 keeps
    // 42 chars of slack. Worst case measured: 84 rows + flagged_n at
    // 1 decimal essentials-only = 1931 — zero omit.
    def essentialLine(dp: Int, rows: Seq[(String, Double)], omit: Int,
        flaggedJson: String): String = {
      val m = rows.map { case (k, v) => "\"" + k + "\":" + fmtV(v, dp) }
        .mkString("{", ",", "}")
      val om = if (omit > 0) s""","omit":$omit""" else ""
      val sfShort = sfDir.split('/').last
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$m%s$flaggedJson%s$om%s,"sf":"$sfShort%s"}"""
    }
    val budget = 1950
    val out = {
      val candidates = Iterator(
        compactLine(2, meds, 0, flaggedCompactFull),
        compactLine(1, meds, 0, flaggedCompactFull),
        compactLine(1, meds, 0, flaggedCompactCount),
        essentialLine(1, meds, 0, flaggedCompactCount))
      candidates.find(_.length <= budget).getOrElse {
        val byLen = meds.filter(_._1.startsWith("x_")).sortBy(-_._1.length)
        var drop = 0
        var l = essentialLine(1, meds, 0, flaggedCompactCount)
        while (l.length > budget && drop < byLen.length) {
          drop += 1
          val kept = byLen.drop(drop).map(_._1).toSet
          l = essentialLine(1, meds.filter(r =>
            !r._1.startsWith("x_") || kept(r._1)), drop, flaggedCompactCount)
        }
        l
      }
    }
    println(out)
    spark.stop()
  }
}
