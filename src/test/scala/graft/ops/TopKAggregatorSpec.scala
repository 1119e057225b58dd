package graft.ops

import graft.{SparkSpec, TestSpark}
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class TopKAggregatorSpec extends SparkSpec {

  test("knnAggregate equals the window-ranked knn join") {
    import spark.implicits._
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val all = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val queries = (0L until 4L).map(q => q -> all(q))
    // build the scored relation (query_id, corpus_id, score)
    val scored = queries.map { case (qid, qv) =>
      emb.select(lit(qid).as("qid"), col("vec_id"),
        VectorFunctions.cosineUnit(col("embedding"),
          VectorFunctions.vecLit(qv)).as("score"))
    }.reduce(_ unionByName _)
      .as[(Long, Long, Double)]
    val agg = TopKAggregator.knnAggregate(scored, k = 5).collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(_._2).toSeq).toMap
    queries.foreach { case (qid, qv) =>
      val want = all.toSeq
        .map { case (id, v) => id -> VectorFunctions.dot(qv, v) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
      agg(qid) shouldBe want
    }
  }

  test("TopK aggregator: bounded buffer, associative merge, tie-break by id") {
    val a = new TopKAggregator.TopK(3)
    import TopKAggregator.Scored
    val xs = Seq(Scored(1, 0.5), Scored(2, 0.9), Scored(3, 0.9),
      Scored(4, 0.1), Scored(5, 0.7))
    val whole = a.finish(xs.foldLeft(a.zero)(a.reduce))
    whole.map(_.id) shouldBe Seq(2L, 3L, 5L) // 0.9 (id 2 < 3), then 0.7
    // split + merge gives the same result regardless of partitioning
    val (l, r) = xs.splitAt(2)
    val merged = a.finish(a.merge(
      l.foldLeft(a.zero)(a.reduce), r.foldLeft(a.zero)(a.reduce)))
    merged shouldBe whole
  }

  test("index save/load round-trip preserves search results") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val idx = graft.index.VectorIndex.build(emb, "save-spec", "vec_id", "embedding")
    val qv = emb.filter(col("vec_id") === 9).head().getSeq[Float](1).toArray
    val before = idx.search(qv, k = 5).collect().map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-idx").toString + "/idx"
    idx.save(path)
    val reloaded = graft.index.VectorIndex.load(spark, path, "save-spec-2",
      "vec_id", "embedding")
    reloaded.search(qv, k = 5).collect().map(_.toSeq).toSeq shouldBe before
  }
}
