package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S8: label dimension loader. The reference reads `id:name` lines
  * into an in-process dict (`gst-detection-tf.py:114-121`,
  * `coco.label`); here it is a tiny DataFrame. The batch video
  * queries, which output label names, broadcast-join it
  * (`DetectionPipeline.joinLabels`); the detection stream reads its
  * ids once per query and filters on them. */
object Labels {
  /** Load an `id:name` file (the reference's label format) into
    * (label_id INT, label STRING). The reference keeps only the
    * first two ':'-separated fields (`gst-detection-tf.py:114-121`,
    * `line.split(":")[:2]`), so a name containing a second ':' is
    * TRUNCATED at it — split on every ':' and take field 1. */
  def fromIdNameFile(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(split(col("value"), ":").as("parts"))
      .select(col("parts").getItem(0).cast("int").as("label_id"),
        trim(col("parts").getItem(1)).as("label"))

  /** Label dim derived from the testdata `nation` table (25 rows) —
    * used by the oracle-checked video queries so both engines join
    * the same dimension. */
  def fromNation(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .select(col("n_nationkey").as("label_id"), col("n_name").as("label"))
}
