package graft.publish

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Paths

/** The shared packager/uploader write shape: merge staging and delete
  * rewrites both produce "one sorted zstd file group + its SplitEntry
  * stats" — kept in ONE place so sort order, compression and the stats
  * formula can never drift apart (merge_executor.rs packager chain;
  * uploader.rs:340-343). */
object SplitStaging {

  /** Write `df` as ONE zstd parquet file group sorted by (ts, conv_id,
    * turn_idx) under `outDir` (overwrite — crash reruns land on the same
    * staged path) and return the written data files. Sort columns missing
    * from the schema are skipped. */
  def writeSorted(df: DataFrame, outDir: String): Seq[String] = {
    val sortable = Seq("ts", "conv_id", "turn_idx").filter(df.columns.contains)
    df.repartition(1)
      .sortWithinPartitions(sortable.map(col): _*)
      .write.mode("overwrite").option("compression", "zstd").parquet(outDir)
    graft.util.Fs.list(Paths.get(outDir))
      .map(_.toString).filter(_.endsWith(".parquet")).sorted
  }

  final case class Stats(numDocs: Long, bytes: Long,
                         minUs: Option[Long], maxUs: Option[Long])

  /** SplitEntry stats in one aggregation pass: doc count, uncompressed
    * text bytes, and the µs time range (None on an empty frame or when
    * the column is absent). */
  def stats(df: DataFrame): Stats = {
    val bytesCol =
      if (df.columns.contains("text"))
        coalesce(sum(octet_length(col("text")).cast("long")), lit(0L))
      else lit(0L)
    val (minC, maxC) =
      if (df.columns.contains("ts"))
        (unix_micros(min(col("ts")).cast("timestamp_ltz")),
         unix_micros(max(col("ts")).cast("timestamp_ltz")))
      else (lit(null).cast("long"), lit(null).cast("long"))
    val r = df.agg(count(lit(1)), bytesCol, minC, maxC).collect()(0)
    Stats(r.getLong(0), r.getLong(1),
      Option(r.get(2)).map(_.asInstanceOf[Long]),
      Option(r.get(3)).map(_.asInstanceOf[Long]))
  }
}
