package graft

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import scala.jdk.CollectionConverters._

/** RawLocalFileSystem that records every path it opens, re-registered
  * under its own `countopen` scheme (the NoTouchFileSystem pattern) —
  * lets CatalogSpec assert which files a commit reads back.
  */
class OpenCountFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countopen:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenCountFileSystem.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object OpenCountFileSystem {
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = opened.clear()
  /** Parquet files opened since the last reset, local paths. */
  def parquetOpens(): Seq[String] = opened.asScala.toSeq.filter(_.endsWith(".parquet"))
}
