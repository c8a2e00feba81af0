package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-corpus sources — the reference's only input surface (a
  * directory of text files read whole: reference
  * lib/map_reduce/master.ex:112-120 lists the dir, worker.ex:105-111
  * hands each mapper the FULL file content) generalized to DataFrames.
  *
  *  - [[wholeFiles]]: one row per file (path, content) via the builtin
  *    `binaryFile` format — unlike RDD `wholeTextFiles` this is a real
  *    DataSource scan: predicate pushdown on path/length works, and the
  *    file-per-row contract matches the reference mapper's input shape.
  *  - [[lines]]: one row per line with its source path — the splittable
  *    form to prefer at 100 TB (a 10 GB file parallelizes across tasks
  *    instead of pinning one).
  */
object TextSources {

  def wholeFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt")
      .load(dir)
      .select(col("path"), col("content").cast("string").as("content"))

  def lines(spark: SparkSession, dir: String): DataFrame =
    spark.read.textFile(s"$dir/*.txt").toDF("line")
      .withColumn("path", input_file_name())
}
