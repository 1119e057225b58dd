package graft.index

import graft.{SparkSpec, TestSpark}
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class VectorIndexSpec extends SparkSpec {

  private lazy val src = spark.read
    .parquet(s"${TestSpark.sf0001}/embeddings.parquet")

  test("build derives dim from data (NB:322) and registers (NB:384)") {
    val idx = VectorIndex.build(src, "spec-exact", "vec_id", "embedding")
    idx.dim shouldBe 64
    idx.size shouldBe 500
    VectorIndexCatalog.get("spec-exact") shouldBe idx
  }

  test("exact search matches brute-force ranking, shape [pk, cols..., score]") {
    val idx = VectorIndex.build(src, "spec-exact2", "vec_id", "embedding")
    val all = src.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qv = all(3L)
    val want = all.toSeq
      .map { case (id, v) => id -> VectorFunctions.dot(qv, v) }
      .sortBy { case (id, s) => (-s, id) }.take(5)
    val got = idx.search(qv, k = 5, columns = Seq("label")).collect()
    got.map(_.getLong(0)).toSeq shouldBe want.map(_._1)
    got.head.schema.fieldNames.toSeq shouldBe Seq("vec_id", "label", "score")
    got.map(_.getDouble(2)).zip(want.map(_._2)).foreach { case (g, w) =>
      g shouldBe w +- 1e-9 }
  }

  test("TRIGGERED refresh: version watermark upserts changed rows (NB:278/318)") {
    val versioned = src.withColumn("version", lit(1L))
    val idx = VectorIndex.build(versioned, "spec-refresh", "vec_id", "embedding")
    idx.currentVersion shouldBe 1L
    val n0 = idx.size
    // append a new row at version 2: vec 0's embedding under pk 777777
    val added = versioned.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(777777L)).withColumn("version", lit(2L))
    idx.refresh(versioned.unionByName(added))
    idx.currentVersion shouldBe 2L
    idx.size shouldBe n0 + 1
    // changed row replaces same-pk state: move vec 1 to vec 0's vector at v3
    val qv0 = src.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).toArray
    val changed = versioned.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(1L)).withColumn("version", lit(3L))
    idx.refresh(versioned.unionByName(added).unionByName(changed))
    idx.size shouldBe n0 + 1 // upsert, not append
    val top = idx.search(qv0, k = 3).collect().map(_.getLong(0)).toSet
    top should contain allOf (0L, 1L, 777777L) // all three carry vec 0's vector
  }

  test("upsert: multi-version batch keeps one row per pk (latest version)") {
    val versioned = src.withColumn("version", lit(1L))
    val idx = VectorIndex.build(versioned, "spec-upsert", "vec_id", "embedding")
    val n0 = idx.size
    val qv5 = src.filter(col("vec_id") === 5).head().getSeq[Float](1).toArray
    val qv6 = src.filter(col("vec_id") === 6).head().getSeq[Float](1).toArray
    // one batch, two versions of pk 123456: v2 carries vec5, v3 carries vec6
    val batch = versioned.filter(col("vec_id") === 5)
      .withColumn("vec_id", lit(123456L)).withColumn("version", lit(2L))
      .unionByName(versioned.filter(col("vec_id") === 6)
        .withColumn("vec_id", lit(123456L)).withColumn("version", lit(3L)))
    idx.upsert(batch)
    idx.size shouldBe n0 + 1 // exactly one row survived
    // the v3 row (vec 6's vector) won
    idx.search(qv6, k = 2).collect().map(_.getLong(0)).toSet shouldBe
      Set(6L, 123456L)
    idx.search(qv5, k = 1).collect().head.getLong(0) shouldBe 5L
  }

  test("refresh on an unversioned source keeps null-_deleted rows, like " +
      "build and upsert") {
    // pk 1: tombstone flag null (live); pk 2: tombstoned; the rest false
    val flagged = src.withColumn(VectorIndex.DeletedCol,
      when(col("vec_id") === 1, lit(null).cast("boolean"))
        .otherwise(col("vec_id") === 2))
    val idx = VectorIndex.build(flagged, "spec-null-del", "vec_id",
      "embedding")
    idx.size shouldBe 499
    val qv1 = src.filter(col("vec_id") === 1).head().getSeq[Float](1).toArray
    idx.refresh(flagged)
    idx.size shouldBe 499
    idx.search(qv1, k = 1).collect().head.getLong(0) shouldBe 1L
  }

  test("build on an empty versioned source: explicit dim, watermark 0, " +
      "refresh picks the appended rows up") {
    val versioned = src.withColumn("version", lit(1L))
    val empty = versioned.filter(lit(false))
    // dim cannot be derived from zero rows — a pointed failure, not a
    // NoSuchElementException from head()
    val err = the[IllegalArgumentException] thrownBy
      VectorIndex.build(empty, "spec-empty-nodim", "vec_id", "embedding")
    err.getMessage should include("dim")
    val idx = VectorIndex.build(empty, "spec-empty", "vec_id", "embedding",
      dim = 64)
    idx.size shouldBe 0
    idx.currentVersion shouldBe 0L
    idx.refresh(empty) // still nothing new: the watermark stays
    idx.currentVersion shouldBe 0L
    idx.refresh(versioned)
    idx.currentVersion shouldBe 1L
    idx.size shouldBe 500
    val qv3 = src.filter(col("vec_id") === 3).head().getSeq[Float](1).toArray
    idx.search(qv3, k = 1).collect().head.getLong(0) shouldBe 3L
  }

  test("one quantizer slot: buildSq after buildPq leaves one code column " +
      "and answers at SQ's certified depth") {
    val idx = VectorIndex.build(src, "spec-requant", "vec_id", "embedding")
      .buildPq(m = 16, ksub = 32)
      .buildSq()
    val qv = src.filter(col("vec_id") === 3).head().getSeq[Float](1).toArray
    val dir = java.nio.file.Files.createTempDirectory("graft-requant").toString
    idx.save(dir)
    val stateCols = spark.read.parquet(s"$dir/state").columns
    stateCols should contain("sq_code")
    (stateCols should not).contain("pq_code")
    new java.io.File(s"$dir/pq").exists() shouldBe false
    // refine = -1 resolves to the SQ depth: the ADC stage keeps k * 2
    // candidates, not PQ's k * 16
    val got = idx.searchQuantized(qv, k = 5)
    val adcLimits = got.queryExecution.sparkPlan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
          if t.sortOrder.exists(_.child.references.exists(
            _.name == "adc_score")) => t.limit
    }
    adcLimits shouldBe Seq(5 * graft.ops.SimilaritySearch.SqRefineCertified)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq
    rows(got) shouldBe rows(idx.search(qv, k = 5))
    // the reloaded index restores the SQ model, not a PQ one
    rows(VectorIndex.load(spark, dir, "spec-requant-re", "vec_id", "embedding")
      .searchQuantized(qv, k = 5)) shouldBe rows(got)
  }

  test("dataArray positional parity with the reference result shape (NB:416)") {
    val idx = VectorIndexCatalog.get("spec-exact")
    val rows = idx.dataArray(
      src.filter(col("vec_id") === 5).head().getSeq[Float](1).toArray,
      k = 2, columns = Seq("label"))
    rows.length shouldBe 2
    rows.head.length shouldBe 3 // [pk, label, score]
    rows.head.head shouldBe 5L  // self-match first
  }

  test("IVF behind the index handle: full probe == exact, upserts join " +
      "cells, centroids durable across save/load") {
    val idx = VectorIndex.build(src, "spec-ivf", "vec_id", "embedding")
      .buildIvf(nCells = 8)
    val all = src.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qv = all(3L)
    val exact = idx.search(qv, k = 5).collect().map(_.getLong(0)).toSeq
    idx.searchIvf(qv, k = 5, nProbe = 8).collect()
      .map(_.getLong(0)).toSeq shouldBe exact
    // pruned probe still returns k rows, internal `cell` never projected
    val pruned = idx.searchIvf(qv, k = 5, nProbe = 2)
    pruned.count() shouldBe 5
    (pruned.columns should not).contain("cell")
    // an upserted row (vec 3's embedding under a new pk) gets a cell on
    // the fixed centroids and is immediately searchable: score ties at
    // 1.0, pk tie-break puts 3 before the new id
    idx.upsert(src.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(999999L)))
    idx.searchIvf(qv, k = 2, nProbe = 8).collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(3L, 999999L)
    // durability: reload must answer identically (centroids persisted)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    idx.save(dir)
    val re = VectorIndex.load(spark, dir, "spec-ivf-re", "vec_id", "embedding")
    re.searchIvf(qv, k = 5, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq shouldBe
      idx.searchIvf(qv, k = 5, nProbe = 2).collect()
        .map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq
  }

  test("PQ behind the index handle: two-stage == exact, upserts get codes, " +
      "codebooks durable across save/load") {
    val idx = VectorIndex.build(src, "spec-pq", "vec_id", "embedding")
      .buildPq(m = 16, ksub = 32)
    val all = src.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qv = all(3L)
    val exact = idx.search(qv, k = 5).collect().map(_.getLong(0)).toSeq
    val pq = idx.searchQuantized(qv, k = 5, refine = 16)
    pq.collect().map(_.getLong(0)).toSeq shouldBe exact
    // internal code column never projected
    (pq.columns should not).contain("pq_code")
    // an upserted row (vec 3's embedding under a new pk) is encoded against
    // the fixed codebooks and immediately retrievable: exact tie at 1.0,
    // pk tie-break puts 3 before the new id
    idx.upsert(src.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(999999L)))
    idx.searchQuantized(qv, k = 2, refine = 16).collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(3L, 999999L)
    // durability: reload must answer identically (codebooks persisted)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    idx.save(dir)
    val re = VectorIndex.load(spark, dir, "spec-pq-re", "vec_id", "embedding")
    re.searchQuantized(qv, k = 5, refine = 4).collect()
      .map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq shouldBe
      idx.searchQuantized(qv, k = 5, refine = 4).collect()
        .map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq
  }

  test("SQ8 behind the index handle: two-stage == exact at refine=2, " +
      "upserts get codes, grid durable across save/load") {
    val idx = VectorIndex.build(src, "spec-sq", "vec_id", "embedding")
      .buildSq()
    val all = src.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qv = all(3L)
    val exact = idx.search(qv, k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq
    val sq = idx.searchQuantized(qv, k = 5, refine = 2)
    sq.collect()
      .map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq shouldBe exact
    // internal code column never projected
    (sq.columns should not).contain("sq_code")
    // an upserted row (vec 3's embedding under a new pk) is encoded against
    // the fixed grid and immediately retrievable: exact tie at 1.0,
    // pk tie-break puts 3 before the new id
    idx.upsert(src.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(999999L)))
    idx.searchQuantized(qv, k = 2, refine = 4).collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(3L, 999999L)
    // durability: reload must answer identically (grid persisted)
    val dir = java.nio.file.Files.createTempDirectory("graft-sq").toString
    idx.save(dir)
    val re = VectorIndex.load(spark, dir, "spec-sq-re", "vec_id", "embedding")
    re.searchQuantized(qv, k = 5, refine = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq shouldBe
      idx.searchQuantized(qv, k = 5, refine = 2).collect()
        .map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq
    // no layout -> clear error, not a wrong answer
    val bare = VectorIndex.build(src, "spec-sq-bare", "vec_id", "embedding")
    an[IllegalStateException] should be thrownBy bare.searchQuantized(qv, k = 5)
  }

  test("IVFADC behind the index handle: full probe + deep refine == exact, " +
      "pruned probe stays bounded, composition durable across save/load") {
    val idx = VectorIndex.build(src, "spec-ivfpq", "vec_id", "embedding")
      .buildIvf(nCells = 8)
      .buildPq(m = 16, ksub = 32)
    val all = src.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qv = all(3L)
    val exact = idx.search(qv, k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq
    // full probe + deep refine: the composed path EQUALS exact search,
    // scores included (the refine stage re-scores on raw vectors)
    idx.searchIvfQuantized(qv, k = 5, nProbe = 8, refine = 16).collect()
      .map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq shouldBe exact
    // pruned probe returns k rows; neither internal column projected
    val pruned = idx.searchIvfQuantized(qv, k = 5, nProbe = 2, refine = 8)
    pruned.count() shouldBe 5
    (pruned.columns should not).contain("cell")
    (pruned.columns should not).contain("pq_code")
    // the probed cell surely holds the query's own vector: top hit exact
    pruned.collect().head.getLong(0) shouldBe 3L
    // an upsert gets BOTH layout columns assigned and is retrievable
    // through the composed path (tie at 1.0, pk tie-break)
    idx.upsert(src.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(999999L)))
    idx.searchIvfQuantized(qv, k = 2, nProbe = 8, refine = 16).collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(3L, 999999L)
    // durability: centroids + codebooks both persist, reload answers
    // identically
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    idx.save(dir)
    val re = VectorIndex.load(spark, dir, "spec-ivfpq-re", "vec_id", "embedding")
    re.searchIvfQuantized(qv, k = 5, nProbe = 2, refine = 8).collect()
      .map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq shouldBe
      idx.searchIvfQuantized(qv, k = 5, nProbe = 2, refine = 8).collect()
        .map(r => (r.getLong(0), r.getDouble(r.length - 1))).toSeq
    // missing either layout -> clear error, not a wrong answer
    val bare = VectorIndex.build(src, "spec-ivfpq-bare", "vec_id", "embedding")
    an[IllegalStateException] should be thrownBy
      bare.searchIvfQuantized(qv, k = 5)
    an[IllegalStateException] should be thrownBy
      bare.buildIvf(nCells = 4).searchIvfQuantized(qv, k = 5)
  }

  test("queryType=HYBRID on the index == HybridSearch.search (NB:386-387)") {
    val embedder = new graft.embed.DeterministicEmbedder(64)
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val withVec = graft.ingest.BinaryIngest
      .embedText(docs, embedder, "text", "doc_id")
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
    val idx = VectorIndex.build(withVec, "spec-hybrid", "doc_id", "embedding")
    val q = "spark vector join"
    val qv = embedder.forQuery(q)
    val want = graft.ops.HybridSearch.search(withVec, "doc_id", "text",
        "embedding", q, qv, k = 5)
      .select(col("id"), col("rrf")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = idx.search(qv, k = 5, columns = Seq("text"),
      queryType = "HYBRID", queryText = q)
    // shape [pk, cols..., score] — same surface as ANN mode
    got.schema.fieldNames.toSeq shouldBe Seq("doc_id", "text", "score")
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    gotMap shouldBe want
    // unknown query types rejected; hybrid without text rejected
    an[IllegalArgumentException] should be thrownBy
      idx.search(qv, queryType = "FULLTEXT")
    an[IllegalArgumentException] should be thrownBy
      idx.search(qv, queryType = "HYBRID")
  }
}
