package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Determinism: engine queries are NOT required to carry a global sort
  * (a full range-shuffle sort is a scale-killer on the hot path);
  * instead the dump itself orders every result by all orderable
  * columns left-to-right, and every oracle SQL ends in the equivalent
  * `ORDER BY ALL` (see SparkEntry.ordered), so both sides agree
  * row-for-row whether or not the comparator re-sorts.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg (local iteration only — the driver passes
    // two): comma-separated query names; restricts the dump AND the
    // oracle manifest to just those queries.
    val only = args.drop(2).headOption.map(_.split(',').toSet)
    val spark = Engine.session("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, args(0), args(1), only)
    spark.stop()
  }

  /** Dump every query in `only` (all when None) run on `sfDir` to
    * `outDir`, one parquet dir per query plus `oracle_sql.json`.
    * A query that fails leaves no dump dir. Leaves `spark` running. */
  private[graft] def dump(spark: SparkSession, sfDir: String,
      outDir: String, only: Option[Set[String]]): Unit = {
    def keep(name: String) = only.forall(_.contains(name))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => keep(e._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val sortable = df.schema.fields.collect {
          case f if !f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
            col(f.name)
        }
        df.orderBy(sortable.toIndexedSeq: _*).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        // Enforce the ORDER BY ALL parity invariant (SparkEntry.ordered):
        // a NULL cell sorts NULLS FIRST here but NULLS LAST under
        // DuckDB's ORDER BY ALL default, so a NULL-emitting query must
        // FAIL the dump loudly, not hash-mismatch mysteriously. The
        // check reads the (small) dump back — no second query run.
        val back = spark.read.parquet(s"$outDir/$name")
        val nulls = back.columns.map(col(_).isNull)
          .reduceOption(_ || _).map(p => back.filter(p).count()).getOrElse(0L)
        if (nulls > 0)
          throw new IllegalStateException(
            s"$nulls rows contain NULL cells — violates the no-NULL " +
              "output invariant that makes ORDER BY ALL order-proof")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove a partial/invalid dump (recursively — parquet writes
        // can leave nested _temporary dirs) so the driver records a
        // clean failure instead of comparing rows we just declared
        // unsafe
        TmpPaths.deleteRecursively(new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
