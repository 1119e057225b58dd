package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import graft.GraftSession
import graft.embed.DeterministicEmbedder
import graft.index.{VectorIndex, VectorIndexCatalog}
import graft.ingest.BinaryIngest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit

/** A result the program got wrong. It aborts the run with exit code 3. */
final class WrongResult(msg: String) extends RuntimeException(msg)

/** Text→image retrieval benchmark driver: generates the seeded inputs, runs
  * one workload against the public APIs of `ingest`, `embed`, `index` and
  * (through `buildIvf`) `ops`, checks the results and writes a raw report
  * (samples and counts) that `run.py` turns into metrics.
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <work dir> <report file>` */
object Main {
  val Dim = 768
  val K = 10
  /** Queries a run must complete so that ten samples lie beyond p95. */
  val MinQueries = 200
  val MinRefreshes = 8
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 5
  /** An operation slower than this counts as failed. */
  val OpTimeoutNs = 30L * 1000000000L

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2f] $msg")

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6, "usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <report file>")
    val Array(workload, seed, seconds, trace, work, report) = argv
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.builder(s"local[$cores]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session ready")
    val code =
      try {
        val b = new Bench(spark, cores, seed.toLong, seconds.toInt, trace == "1", Paths.get(work))
        val raw = workload match {
          case "ingest_build" => b.ingestBuild()
          case "serve_exact_sync" => b.serveExactSync()
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        Files.writeString(Paths.get(report), Json(raw))
        log("report written")
        0
      } catch {
        case e: WrongResult =>
          System.err.println(s"WRONG RESULT: ${e.getMessage}")
          3
      } finally spark.stop()
    sys.exit(code)
  }
}

final class Bench(spark: SparkSession, cores: Int, seed: Long, seconds: Int,
    traced: Boolean, work: Path) {
  import Main._

  private val sc = spark.sparkContext
  private val embedder = new DeterministicEmbedder(Dim)
  private val tracer = new Tracer(traced)
  private val counters = if (traced) Some(new Counters(spark)) else None
  private val windowNs = seconds * 1000000000L

  // --------------------------------------------------------------- report

  private val setupS = mutable.ArrayBuffer.empty[Double]
  private val ingest = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val queryMs = new ConcurrentLinkedQueue[Double]()
  private var serveWindowS = 0.0
  private val refreshMs = mutable.ArrayBuffer.empty[Double]
  private val refreshRows = mutable.ArrayBuffer.empty[Int]
  private var recall = Seq.empty[Double]
  private var indexMemBytes = 0L
  private val facts = mutable.LinkedHashMap.empty[String, Any]
  private val ops = new ConcurrentHashMap[String, Array[Long]]() // attempted, failed

  private def report(workload: String): Map[String, Any] = {
    val counts = counters.map(_.snapshot(cores))
    counters.foreach(_.close())
    val spans = tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "req" -> s.req, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    Map("workload" -> workload, "seed" -> seed, "trace" -> traced,
      "setup_s" -> setupS, "ingest" -> ingest, "query_ms" -> queryMs.asScala.toSeq,
      "serve_window_s" -> serveWindowS, "refresh_ms" -> refreshMs,
      "refresh_rows" -> refreshRows, "recall" -> recall,
      "index_mem_bytes" -> indexMemBytes, "facts" -> facts,
      "ops" -> ops.asScala.map { case (k, v) => k -> Map("attempted" -> v(0), "failed" -> v(1)) },
      "counters" -> counts, "spans" -> spans)
  }

  // ------------------------------------------------------------ harness

  /** Off during warm-up: the JVM compiles the hot paths and Spark fills
    * its caches on untimed operations, so the timed ones measure the steady
    * state instead of how far the JIT got. */
  @volatile private var recording = true

  private def warmUp[T](body: => T): T = {
    recording = false
    tracer.paused = true
    try body finally { recording = true; tracer.paused = false }
  }

  /** Runs one operation of `kind`, counting it as attempted, and as failed
    * when it throws or exceeds the timeout. A wrong result is not a
    * failure: it propagates and aborts the run. */
  private def attempt[T](kind: String)(body: => T): Option[T] = {
    val c = if (recording) ops.computeIfAbsent(kind, _ => new Array[Long](2)) else new Array[Long](2)
    c.synchronized(c(0) += 1)
    Counters.tag(sc, if (recording) kind else "warmup")
    val t0 = System.nanoTime()
    try {
      val r = body
      if (System.nanoTime() - t0 > OpTimeoutNs) { c.synchronized(c(1) += 1); None } else Some(r)
    } catch {
      case w: WrongResult => throw w
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        c.synchronized(c(1) += 1)
        None
    } finally Counters.tag(sc, null)
  }

  private def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new WrongResult(msg)

  /** In the traced run each layer's lazy output is persisted and counted
    * inside its own span, so the span holds that layer's work; untraced,
    * the pipeline stays lazy as a caller would run it. */
  private val forced = mutable.ArrayBuffer.empty[DataFrame]
  private def force(df: DataFrame): DataFrame =
    if (!traced) df else { forced += df.persist(); df.count(); df }
  private def releaseForced(): Unit = { forced.foreach(_.unpersist(true)); forced.clear() }

  /** Runs `body` and returns the ids of the RDDs it left persisted. */
  private def newRdds(body: => Unit): Set[Int] = {
    val before = sc.getPersistentRDDs.keySet
    body
    sc.getPersistentRDDs.keySet.toSet -- before
  }
  private def memBytes(rdds: Set[Int]): Long =
    sc.getRDDStorageInfo.filter(i => rdds(i.id)).map(_.memSize).sum
  private def free(rdds: Set[Int]): Unit =
    rdds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(true)))

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `clients` closed-loop threads, each sending its next operation when
    * the previous one returns, while `more()` holds. Returns the wall
    * seconds. */
  private def closedLoop(clients: Int, more: () => Boolean)(op: Int => Unit): Double = {
    val next = new AtomicInteger(0)
    val error = new AtomicReference[Throwable]()
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        try {
          while (error.get() == null && more()) op(next.getAndIncrement())
        } catch { case t: Throwable => error.compareAndSet(null, t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(error.get()).foreach(throw _)
    secondsSince(t0)
  }

  // -------------------------------------------------------- index calls

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Exact top-k ids by brute force, ties to the lower id — the reference
    * every search result is checked against. */
  private def exactTopK(model: collection.Map[Long, Array[Float]], q: Array[Float]): Seq[Long] =
    model.iterator.map { case (id, v) => (id, dot(v, q)) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(K).map(_._1)

  private def search(idx: VectorIndex, ivf: Boolean, q: Array[Float]): Array[Row] =
    tracer.span(if (ivf) "index.searchIvf" else "index.search") {
      val df = if (ivf) idx.searchIvf(q, K) else idx.search(q, K)
      counters.foreach(_.expect(df.queryExecution))
      df.collect()
    }

  /** Top-k shape: exactly k rows, scores non-increasing. */
  private def checkTopK(rows: Array[Row]): Seq[(Long, Double)] = {
    check(rows.length == K, s"search returned ${rows.length} rows, expected $K")
    val hits = rows.toSeq.map(r => (r.getLong(0), r.getDouble(r.length - 1)))
    check(hits.sliding(2).forall { case Seq(a, b) => a._2 >= b._2; case _ => true },
      s"scores not descending: ${hits.map(_._2)}")
    hits
  }

  /** Whether `id` is the top hit, or shares the top score. */
  private def ranksFirst(hits: Seq[(Long, Double)], id: Long): Boolean =
    hits.takeWhile(_._2 >= hits.head._2 - 1e-9).exists(_._1 == id)

  /** One serving phase: `clients` closed-loop clients issue the seeded
    * query stream through forQuery → search → collect. Returns the ids
    * each distinct query got. */
  private def serve(idx: VectorIndex, ivf: Boolean, queries: Array[String],
      clients: Int, more: () => Boolean): Map[Int, Seq[Long]] = {
    val got = new ConcurrentHashMap[Int, Seq[Long]]()
    val secs = closedLoop(clients, more) { i =>
      val qi = i % queries.length
      tracer.request("request.query") {
        val t0 = System.nanoTime()
        queriesIssued.incrementAndGet()
        attempt("query") {
          val v = tracer.span("embed.forQuery")(embedder.forQuery(queries(qi)))
          search(idx, ivf, v)
        }.foreach { rows =>
          val ms = (System.nanoTime() - t0) / 1e6
          val ids = checkTopK(rows).map(_._1)
          if (recording) { queryMs.add(ms); got.putIfAbsent(qi, ids) }
        }
      }
    }
    if (recording) serveWindowS += secs
    got.asScala.toMap
  }

  private def recallOf(got: Map[Int, Seq[Long]], queries: Array[String],
      model: collection.Map[Long, Array[Float]]): Seq[Double] =
    got.toSeq.par.map { case (qi, ids) =>
      val exact = exactTopK(model, embedder.forQuery(queries(qi)))
      exact.count(ids.toSet).toDouble / K
    }.seq

  /** The writer: appends seeded change batches (inserts, updates, ~10%
    * tombstones, rising `version`) to the parquet source of `idx` and
    * refreshes the index after each. After each refresh an updated id must
    * rank first for its new vector and a tombstoned id must be gone from
    * its old vector's top-k. `model` mirrors the source's live rows. */
  private final class Writer(idx: VectorIndex, ivf: Boolean, src: Path, pk: String,
      val model: mutable.Map[Long, Array[Float]], batchRows: Int) {
    private val schema = spark.read.parquet(src.toString).schema
    private var nextId = model.keys.max + 1
    private var version = 1L

    def run(more: () => Boolean): Unit = {
      while (more()) refreshOnce()
      facts("state_rows") = idx.size
      check(facts("state_rows") == model.size.toLong,
        s"index holds ${facts("state_rows")} rows, source has ${model.size} live ids")
    }

    private def refreshOnce(): Unit = {
      val (changes, after) = Gen.changeBatch(seed, version, batchRows, nextId, model.contains)
      val vecs = tracer.span("embed.batchText")(changes.map(c => embedder.embedText(c.caption)))
      val rows = changes.zip(vecs).map { case (c, v) =>
        Row.fromSeq(schema.fieldNames.toSeq.map {
          case `pk` => c.id
          case "filepath" => s"change/${c.id}"
          case "embedding" => v.toSeq
          case "version" => version
          case "_deleted" => c.deleted
          case other => throw new IllegalStateException(s"unexpected source column $other")
        })
      }
      val batch = spark.createDataFrame(rows.toSeq.asJava, schema)
      tracer.request("request.refresh") {
        val t0 = System.nanoTime()
        attempt("refresh") {
          tracer.span("spark.append_source")(batch.write.mode("append").parquet(src.toString))
          tracer.span("index.refresh")(idx.refresh(spark.read.parquet(src.toString)))
        }.foreach { _ =>
          if (recording) {
            refreshMs += (System.nanoTime() - t0) / 1e6
            refreshRows += changes.length
          }
        }
      }
      val old = changes.filter(c => model.contains(c.id)).map(c => c.id -> model(c.id)).toMap
      changes.zip(vecs).foreach { case (c, v) => if (c.deleted) model.remove(c.id) else model(c.id) = v }
      changes.zip(vecs).find { case (c, _) => !c.deleted && old.contains(c.id) }.foreach { case (c, v) =>
        check(ranksFirst(checkTopK(search(idx, ivf, v)), c.id),
          s"updated id ${c.id} does not rank first for its new vector after refresh $version")
      }
      changes.find(_.deleted).foreach { c =>
        check(!checkTopK(search(idx, ivf, old(c.id))).exists(_._1 == c.id),
          s"tombstoned id ${c.id} still served after refresh $version")
      }
      nextId = after
      version += 1
      refreshesDone.incrementAndGet()
    }
  }

  private def loadModel(src: Path, pk: String): mutable.Map[Long, Array[Float]] = {
    val m = mutable.LongMap.empty[Array[Float]]
    spark.read.parquet(src.toString).select(pk, "embedding").collect().foreach { r =>
      m(r.getLong(0)) = r.getSeq[Float](1).toArray
    }
    m
  }

  /** Brackets a timed phase for the CPU and GC fractions. */
  private def window[T](body: => T): T = {
    val t0 = System.nanoTime()
    counters.foreach(_.startWindow())
    try body
    finally {
      counters.foreach(_.endWindow())
      log(f"timed phase took ${secondsSince(t0)}%.1f s")
    }
  }

  private val queriesIssued = new AtomicInteger(0)
  private val refreshesDone = new AtomicInteger(0)

  /** Whether a phase goes on: until its share of the run's seconds has
    * passed and it has issued the queries and refreshes it needs. */
  private def until(share: Double, from: Long, queries: Int = 0,
      refreshes: Int = 0): () => Boolean = {
    val deadline = from + (windowNs * share).toLong
    val (q0, r0) = (queriesIssued.get(), refreshesDone.get())
    () => System.nanoTime() < deadline || queriesIssued.get() - q0 < queries ||
      refreshesDone.get() - r0 < refreshes
  }

  /** Untimed operations before each timed phase. */
  private val WarmQueries = 30
  private val WarmRefreshes = 1

  // ---------------------------------------------------------- workloads

  /** The offline half of the paper: scan → dense ids → embed images →
    * write the embeddings table → build → IVF, over ~1% corrupt files. */
  def ingestBuild(): Map[String, Any] = {
    val dir = work.resolve("images")
    val nImages = 400
    val nCorrupt = 4
    Gen.images(seed, nImages, nCorrupt, dir)
    // the warm-up pass runs the same jobs over a tenth of the files
    val warmDir = work.resolve("images-warmup")
    Gen.images(seed, nImages / 10, 1, warmDir)
    val queries = Gen.queries(seed, 4096)
    log("inputs generated")
    def listed(d: Path) = Files.list(d).iterator().asScala.map(_.toAbsolutePath.toString).toSeq.sorted
    val files = listed(dir)

    var last: (VectorIndex, Path, Set[Int]) = null
    def pass(i: Int, dir: Path = dir, files: Seq[String] = files, nCorrupt: Int = nCorrupt): Double = {
      val src = work.resolve(s"images-src-$i")
      var idx: VectorIndex = null
      var secs = 0.0
      val rdds = newRdds {
        tracer.request("request.ingest") {
          val t0 = System.nanoTime()
          attempt("ingest") {
            val scanned = tracer.span("ingest.scan")(force(BinaryIngest.scan(spark, dir.toString)))
            val ided = tracer.span("ingest.withDenseIds")(force(BinaryIngest.withDenseIds(scanned)))
            val emb = tracer.span("embed.embedImages")(force(BinaryIngest.embedImages(ided, embedder)))
            tracer.span("spark.write_source")(emb.withColumn("_deleted", lit(false))
              .write.mode("overwrite").parquet(src.toString))
            idx = tracer.span("index.build")(VectorIndex.build(
              spark.read.parquet(src.toString), s"images-$i", "image_id", "embedding", Dim))
            tracer.span("index.buildIvf")(idx.buildIvf())
          }
          secs = secondsSince(t0)
        }
        releaseForced()
      }
      if (idx != null) {
        val rows = idx.size
        facts("images_dropped") = files.length - rows
        check(files.length - rows == nCorrupt,
          s"ingest dropped ${files.length - rows} rows, expected the $nCorrupt corrupt files")
        facts("ivf_cells") = idx.ivfCells.getOrElse(0)
        if (last != null) { free(last._3); VectorIndexCatalog.drop(last._1.name) }
        last = (idx, src, rdds)
      }
      secs
    }

    // here the set-up is the ingest: each timed pass counts for both
    warmUp(pass(0, warmDir, listed(warmDir), 1))
    window {
      (1 to SetupRepeats).foreach { i =>
        setupS += pass(i)
        ingest += Map("items" -> (files.length - nCorrupt), "seconds" -> setupS.last)
        log(f"ingest pass $i took ${setupS.last}%.2f s")
      }
    }
    indexMemBytes = memBytes(last._3)
    val t0 = System.nanoTime()

    val (idx, src, _) = last
    val model = loadModel(src, "image_id")
    checkIngested(idx, src, model, files, nCorrupt)
    warmUp(serve(idx, ivf = true, queries, cores, until(0, t0, queries = WarmQueries)))
    val got = window(serve(idx, ivf = true, queries, cores, until(0.6, t0, queries = MinQueries)))
    recall = recallOf(got, queries, model)
    log("recall computed")
    val writer = new Writer(idx, ivf = true, src, "image_id", model, 200)
    warmUp(writer.run(until(0, t0, refreshes = WarmRefreshes)))
    window(writer.run(until(1.0, t0, refreshes = MinRefreshes)))
    report("ingest_build")
  }

  /** Ids are dense 0..n-1 in path order (corrupt files keep their id and
    * are then dropped), every embedding is unit-norm, and an image's own
    * embedding ranks it first. */
  private def checkIngested(idx: VectorIndex, src: Path,
      model: mutable.Map[Long, Array[Float]], files: Seq[String], nCorrupt: Int): Unit = {
    val paths = spark.read.parquet(src.toString).select("image_id", "filepath")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rank = files.zipWithIndex.toMap
    check(paths.size == files.length - nCorrupt, s"${paths.size} embedded rows")
    paths.foreach { case (id, p) =>
      check(rank.get(p).contains(id.toInt), s"image $p has id $id, expected ${rank.get(p)}")
    }
    model.foreach { case (id, v) =>
      check(math.abs(math.sqrt(dot(v, v)) - 1.0) < 1e-4, s"embedding of $id is not unit-norm")
    }
    model.keys.toSeq.sorted.take(16).foreach { id =>
      check(ranksFirst(checkTopK(search(idx, ivf = true, model(id))), id),
        s"image $id does not rank first for its own embedding")
    }
  }

  /** Caption corpus set-up: embed → write the embeddings table → build.
    * Returns the index, its source and the RDDs it holds. */
  private def captionSetup(captions: Path, i: Int): (VectorIndex, Path, Set[Int]) = {
    val src = work.resolve(s"captions-src-$i")
    var idx: VectorIndex = null
    val rdds = newRdds {
      tracer.request("request.setup") {
        val t0 = System.nanoTime()
        val emb = tracer.span("embed.embedText")(force(BinaryIngest.embedText(
          spark.read.parquet(captions.toString), embedder, "caption", "id")))
        tracer.span("spark.write_source")(emb.withColumn("_deleted", lit(false))
          .write.mode("overwrite").parquet(src.toString))
        idx = tracer.span("index.build")(VectorIndex.build(
          spark.read.parquet(src.toString), s"captions-$i", "id", "embedding", Dim))
        if (recording) setupS += secondsSince(t0)
        log(f"set-up $i took ${secondsSince(t0)}%.2f s")
      }
      releaseForced()
    }
    (idx, src, rdds)
  }

  /** Writes the caption corpus table (input generation, not timed). */
  private def captionTable(n: Int): Path = {
    val path = work.resolve("captions")
    val rows = Gen.captions(seed, n).zipWithIndex.map { case (c, i) => (i.toLong, c) }
    import spark.implicits._
    rows.toSeq.toDF("id", "caption").repartition(8).write.mode("overwrite").parquet(path.toString)
    log("inputs generated")
    path
  }

  /** One untimed and [[SetupRepeats]] timed caption set-ups; keeps the
    * last index and frees the others. */
  private def serveSetup(n: Int): (VectorIndex, Path) = {
    val captions = captionTable(n)
    var last: (VectorIndex, Path, Set[Int]) = null
    (0 to SetupRepeats).foreach { i =>
      val s = if (i == 0) warmUp(captionSetup(captions, i)) else captionSetup(captions, i)
      if (last != null) { free(last._3); VectorIndexCatalog.drop(last._1.name) }
      last = s
    }
    indexMemBytes = memBytes(last._3)
    setupS.foreach(s => ingest += Map("items" -> n, "seconds" -> s))
    (last._1, last._2)
  }

  /** Writes beside reads: three closed-loop exact readers while one writer
    * appends change batches and refreshes. */
  def serveExactSync(): Map[String, Any] = {
    val (idx, src) = serveSetup(4000)
    val queries = Gen.queries(seed, 4096)
    val model = loadModel(src, "id")
    val writer = new Writer(idx, ivf = false, src, "id", model, 1000)
    warmUp {
      serve(idx, ivf = false, queries, cores - 1, until(0, 0, queries = WarmQueries))
      writer.run(until(0, 0, refreshes = WarmRefreshes))
    }
    val more = until(1.0, System.nanoTime(), MinQueries, MinRefreshes)
    val writerError = new AtomicReference[Throwable]()
    val writerThread = new Thread(() =>
      try writer.run(more)
      catch { case t: Throwable => writerError.set(t) })
    window {
      writerThread.start()
      serve(idx, ivf = false, queries, cores - 1, more)
      writerThread.join()
    }
    Option(writerError.get()).foreach(throw _)
    // exact search on the final state must match brute force over the
    // source's live rows
    val sample = (0 until 16).map(i => i * 97 % queries.length)
    recall = sample.map { qi =>
      val v = embedder.forQuery(queries(qi))
      val ids = checkTopK(search(idx, ivf = false, v)).map(_._1)
      val exact = exactTopK(model, v)
      check(ids == exact, s"exact search for query $qi returned $ids, brute force $exact")
      exact.count(ids.toSet).toDouble / K
    }
    report("serve_exact_sync")
  }
}
