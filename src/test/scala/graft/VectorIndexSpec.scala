package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.operators.{Similarity, VectorIndex}
import graft.sources.Tables

/** The persisted IVF-PQ index (s10): build-once/serve-many must be
  * answer-identical to the in-memory s8 path, and serving must prune
  * the cell-partitioned scan to the probed cells.
  */
class VectorIndexSpec extends SparkTestBase with BeforeAndAfterAll {

  private def emb = Tables.embeddings(spark, sf)
  private def centroids = emb.filter(col("vec_id") < 8)
  private def codebook = emb.filter(col("vec_id") < 16)

  private val made = scala.collection.mutable.ListBuffer.empty[java.io.File]

  private def tmpIndex(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_vidx_$tag")
    made += d.toFile
    d.resolve("index").toString
  }

  override def afterAll(): Unit =
    try made.foreach(TmpPaths.deleteRecursively) finally super.afterAll()

  test("serve from the saved index == in-memory IVF-PQ, bit for bit") {
    val queries = emb.filter(col("vec_id") < 5)
    val path = tmpIndex("parity")
    VectorIndex.build(emb, centroids, codebook, m = 8, path)
    val served = VectorIndex.serve(spark, path, queries, centroids,
        codebook, m = 8, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val inMem = Similarity.knnIvfPq(emb, queries, centroids, codebook,
        m = 8, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(served === inMem)
    assert(served.nonEmpty)
  }

  test("index layout: one directory per cell, codes survive the roundtrip") {
    val path = tmpIndex("layout")
    VectorIndex.build(emb, centroids, codebook, m = 8, path)
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(dirs.nonEmpty && dirs.forall(_.matches("cell=\\d+")))
    val back = spark.read.parquet(path)
    // codes reload as ARRAY<INT> and re-enter the codegen'd ADC kernel
    val reEncoded = Similarity.encodeIvfPq(emb, centroids, codebook, m = 8)
      .select(col("vec_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val reloaded = back.select(col("vec_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(reloaded === reEncoded)
  }

  test("serving plan prunes the scan to the probed cell partitions") {
    val queries = emb.filter(col("vec_id") < 5)
    val path = tmpIndex("prune")
    VectorIndex.build(emb, centroids, codebook, m = 8, path)
    val served = VectorIndex.serve(spark, path, queries, centroids,
      codebook, m = 8, k = 3)
    val plan = served.queryExecution.executedPlan.toString
    // dynamic partition pruning: the scan's PartitionFilters carry the
    // runtime subquery on `cell` — without it the serve would read
    // every inverted list instead of the probed ones
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning in plan:\n$plan")
  }
}
