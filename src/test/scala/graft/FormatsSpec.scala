package graft

/** S1 breadth: malformed JSON records and evolving parquet schemas
  * read through Spark's own readers. */
class FormatsSpec extends SparkTestBase {

  test("corrupt JSON records isolate into _corrupt_record, good rows survive") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt-").toString
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part.json"),
        ("""{"id": 1, "name": "ok"}""" + "\n" +
         """{"id": 2 "name": "missing-comma"}""" + "\n" +
         """{"id": 3, "name": "fine"}""" + "\n").getBytes("UTF-8"))
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("_corrupt_record", StringType)))
      val df = spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
      val rows = df.collect()
      assert(rows.length == 3)
      val bad = rows.filter(r => !r.isNullAt(2))
      assert(bad.length == 1 && bad.head.getString(2).contains("missing-comma"))
      assert(rows.filter(_.isNullAt(2)).map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    } finally graft.TmpPaths.deleteRecursively(new java.io.File(dir))
  }

  test("schema evolution: mergeSchema unions old and new parquet file schemas") {
    import testImplicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve-").toString
    try {
      // yesterday's files: (id, name); today's add a column (id, name, score)
      Seq((1L, "a"), (2L, "b")).toDF("id", "name")
        .write.parquet(s"$dir/day=1")
      Seq((3L, "c", 0.5)).toDF("id", "name", "score")
        .write.parquet(s"$dir/day=2")
      val merged = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(merged.columns.toSet == Set("id", "name", "score", "day"))
      val rows = merged.select("id", "score").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
      // old files surface the new column as NULL; new files carry it
      assert(rows(1L).isEmpty && rows(2L).isEmpty && rows(3L).contains(0.5))
      // without mergeSchema Spark pins the first footer's schema — the
      // default a 100 TB lake relies on for cheap planning; the merged
      // read is the explicit opt-in migration path
      val pinned = spark.read.parquet(dir)
      assert(pinned.columns.toSet.subsetOf(Set("id", "name", "score", "day")))
    } finally graft.TmpPaths.deleteRecursively(new java.io.File(dir))
  }
}
