package graft.catalog

import graft.functions.Uda
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Store integrity evaluation — the `marketstore tool integrity` role
  * (cmd/tool/integrity/main.go: checksum chunks over every year file,
  * optional year range). Parquet already CRC-checks every page on
  * read, so a full decode IS the checksum pass; on top of that this
  * validates the engine's own invariants per (symbol, timeframe, year)
  * partition:
  *
  *  - decodable: the partition's files read end-to-end;
  *  - unique keys: no duplicate (Epoch[, Nanoseconds]) within a
  *    bucket — the slot-overwrite/dedup contract;
  *  - year consistency: every row's Epoch falls in its partition year
  *    (the partition-pruning correctness precondition);
  *  - no foreign files: every data file on disk is accounted for by a
  *    retained manifest version (live snapshot or grace-retained).
  *    A foreign file is an out-of-band write or a crashed writer's
  *    leftovers — it is INCLUDED in the scan (its rows count toward
  *    the dup/year checks, the way the reference checksums whatever
  *    bytes sit in its year files) and flagged per partition.
  *
  * One distributed scan per attribute group (two shuffle stages: key
  * counts, then per-partition rollup); unreadable groups surface as
  * report rows instead of exceptions, so one corrupt file doesn't
  * hide the rest of the report.
  */
object Integrity {

  /** Report columns: attGroup, symbol, timeframe, year, n_rows,
    * n_dup_keys, n_year_mismatch, n_foreign_files, ok, error.
    */
  def check(
      spark: SparkSession, root: String,
      yearStart: Int = Int.MinValue, yearEnd: Int = Int.MaxValue): DataFrame = {
    val cat = new BucketCatalog(spark, root)
    val reports = cat.listAttGroups().map { ag =>
      try {
        val (_, variable) = cat.getInfo(ag)
        // the scan set: manifest-live files plus anything on disk NO
        // retained manifest references (grace-retained history is
        // engine-managed, not a violation — excluded from both)
        val (df, foreign) = cat.liveFiles(ag) match {
          case Some(live) =>
            val referenced = cat.referencedFiles(ag).getOrElse(Set.empty)
            val foreign = cat.dataFilesOnDisk(ag).filterNot(referenced)
            val all = live ++ foreign
            if (all.isEmpty) throw new IllegalStateException("no data files")
            (spark.read.option("basePath", s"$root/$ag")
              .parquet(all.map(f => s"$root/$ag/$f"): _*), foreign)
          case None => (spark.read.parquet(s"$root/$ag"), Seq.empty[String])
        }
        val scoped = df.filter(col("year") >= yearStart && col("year") <= yearEnd)
        // files are shared across symbols, so foreign files report
        // per (timeframe, year) under symbol "*" — rows of their own,
        // so a violation never vanishes for lack of data rows
        def seg(f: String, key: String): Option[String] =
          f.split("/").find(_.startsWith(key + "=")).map(_.stripPrefix(key + "="))
        val foreignRows = foreign
          .flatMap { f =>
            for {
              tf <- seg(f, "timeframe")
              y <- seg(f, "year").flatMap(s => scala.util.Try(s.toInt).toOption)
            } yield (tf, y)
          }
          .filter { case (_, y) => y >= yearStart && y <= yearEnd }
          .groupBy(identity).toSeq
          .map { case ((tf, yr), hits) =>
            Row(ag, "*", tf, yr, 0L, 0L, 0L, hits.size.toLong, false, null)
          }
        val keys = Seq("symbol", "timeframe", "year", Uda.EpochCol) ++
          (if (variable) Seq(Uda.NanosCol) else Nil)
        val perKey = scoped
          .withColumn("__ymm",
            when(year(timestamp_seconds(col(Uda.EpochCol))) =!= col("year"), 1L).otherwise(0L))
          .groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__n"), sum(col("__ymm")).as("__ymm"))
        val aggRows = perKey.groupBy("symbol", "timeframe", "year")
          .agg(
            sum(col("__n")).as("n_rows"),
            sum(when(col("__n") > 1, col("__n") - 1).otherwise(0L)).as("n_dup_keys"),
            sum(col("__ymm")).as("n_year_mismatch"))
          .collect().toSeq
          .map { r =>
            val ok = r.getLong(4) == 0L && r.getLong(5) == 0L
            Row(ag, r.getString(0), r.getString(1), r.getInt(2), r.getLong(3),
              r.getLong(4), r.getLong(5), 0L, ok, null)
          }
        aggRows ++ foreignRows
      } catch {
        case NonFatal(e) =>
          Seq(Row(ag, null, null, null, null, null, null, null,
            false, Option(e.getMessage).getOrElse(e.getClass.getName).take(200)))
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("attGroup", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("symbol", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("timeframe", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("year", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_rows", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_dup_keys", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_year_mismatch", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_foreign_files", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ok", org.apache.spark.sql.types.BooleanType),
      org.apache.spark.sql.types.StructField("error", org.apache.spark.sql.types.StringType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(reports.flatten.asJava, schema)
  }
}
