package graft

import org.apache.spark.sql.types._

/** Forked-JVM catalog group writer for [[ForkSpec]]: a genuinely
  * separate process holding a GROUP lease on a shared no-lock catalog
  * root while it ingests. In-JVM lease tests (CatalogSpec) plant
  * foreign lease files; this child is a real foreign writer — its
  * `processWriterId`, lease heartbeat scheduler and claim files live
  * in another JVM, so nothing but the on-disk protocol can order the
  * two sides.
  *
  * args: catalog root URI (nolock:/...), TBK, batch count, ready-file
  * path. Creates the bucket, writes `n` batches (touching the ready
  * file after the first so the parent can probe a LIVE lease), then
  * exits 0 — the lease is left to idle-expiry/hand-back like any
  * crashed-or-done writer.
  */
object ForkedGroupWriter {
  val ohlcv: StructType = StructType(Seq(
    StructField("Epoch", LongType), StructField("Open", DoubleType),
    StructField("Close", DoubleType)))

  def main(args: Array[String]): Unit = {
    val Array(rootUri, tbkStr, nStr, readyFile) = args
    val spark = SparkSpec.create(2, "ERROR",
      "spark.hadoop.fs.nolock.impl" -> classOf[NoLockFileSystem].getName)
    import spark.implicits._
    try {
      val cat = new graft.catalog.BucketCatalog(spark, rootUri)
      val tbk = graft.core.TimeBucketKey.parse(tbkStr)
      cat.create(tbk, ohlcv, isVariable = false)
      (0 until nStr.toInt).foreach { i =>
        cat.write(tbk,
          Seq((60L * (i + 1), 1.0 + i, 1.5 + i)).toDF("Epoch", "Open", "Close"))
        if (i == 0)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(readyFile), "ready")
        Thread.sleep(250)
      }
    } finally spark.stop()
    sys.exit(0)
  }
}
