package graft

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.util.Progressable
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

/** RawLocalFileSystem under its own `latch` scheme (the
  * OpenCountFileSystem pattern) whose ARMED create of the first
  * `part-*.parquet` signals `entered` and then blocks until `release`
  * — holds a staged catalog write in flight so CatalogSpec can run
  * other catalog calls beside it.
  */
class LatchFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("latch:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    LatchFileSystem.gate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object LatchFileSystem {
  private val armed = new AtomicBoolean(false)
  @volatile private var enteredLatch = new CountDownLatch(1)
  @volatile private var releaseLatch = new CountDownLatch(1)

  /** Block the next `part-*.parquet` create until [[release]]. */
  def arm(): Unit = {
    enteredLatch = new CountDownLatch(1)
    releaseLatch = new CountDownLatch(1)
    armed.set(true)
  }
  /** True once the armed create has been entered (and is blocking). */
  def awaitEntered(timeoutMs: Long): Boolean =
    enteredLatch.await(timeoutMs, TimeUnit.MILLISECONDS)
  def release(): Unit = { armed.set(false); releaseLatch.countDown() }

  private def gate(f: Path): Unit = {
    val name = f.getName
    if (name.startsWith("part-") && name.endsWith(".parquet") && armed.compareAndSet(true, false)) {
      enteredLatch.countDown()
      releaseLatch.await(120, TimeUnit.SECONDS)
    }
  }
}
