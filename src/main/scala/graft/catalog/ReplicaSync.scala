package graft.catalog

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Pull-based replica of a BucketCatalog root — the Spark-native shape
  * of the reference's master→replica replication, which streams WAL
  * transaction groups and replays them on the receiver
  * (replication/sender.go:14-48, receiver.go:12-40). Here the commit
  * log IS the stream: its tail names the groups that changed since
  * the marker, and `sync()` refreshes exactly those.
  *
  * A refresh makes the replica's manifest list exactly the primary's
  * current files, buckets and ranges. It copies the live files the
  * replica's manifest does not list yet (file names are job-unique and
  * immutable, so a listed file never needs a second copy), then
  * publishes the replica's next manifest version through the replica
  * catalog's own commit. The replica is therefore an ordinary catalog
  * root with ordinary snapshot isolation: a reader sees whole versions
  * only, a pinned read keeps its files through the replica's vacuum
  * grace, and no live partition dir is ever deleted. Multiple commits
  * touching one group collapse to a single publish of its final state,
  * and re-running after a partial failure converges: a failed refresh
  * publishes nothing and leaves the marker where it was.
  *
  * A mutation on the replica is an ordinary commit there; the next
  * sync that refreshes its group restores the primary's state.
  */
final class ReplicaSync(spark: SparkSession, primaryRoot: String, replicaRoot: String) {
  private val conf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path(primaryRoot).getFileSystem(conf)
  private val marker = new Path(replicaRoot, "_graft_replica_marker.txt")
  private val om = new ObjectMapper()
  private val primary = new BucketCatalog(spark, primaryRoot)
  private val replica = new BucketCatalog(spark, replicaRoot)

  private def lastApplied(): String = {
    if (!fs.exists(marker)) return ""
    val in = fs.open(marker)
    val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    in.close(); s
  }

  private def seqOf(name: String): Long =
    name.takeWhile(_.isDigit) match { case "" => 0L; case d => d.toLong }

  /** Apply all unseen commits; returns how many were applied (or, on a
    * full resync, how many retained records the new marker covers).
    *
    * The commit log rotates ([[BucketCatalog.pruneCommitLog]]), so a
    * replica whose marker predates the oldest retained record cannot
    * know what the pruned commits touched. That gap is detected by
    * sequence number (oldest retained > marker + 1), and a fresh
    * replica (no marker) is treated the same way: every primary group
    * is refreshed, after which tailing resumes from the newest record.
    * Otherwise only the groups the pending records name are refreshed.
    */
  def sync(): Int = {
    val logDir = new Path(primaryRoot, BucketCatalog.CommitLog)
    if (!fs.exists(logDir)) return 0
    val seen = lastApplied()
    // dotfiles are in-flight writes (logCommit stages then renames, so
    // every visible .json is complete — no torn-record race)
    val retained = fs.listStatus(logDir).toSeq.map(_.getPath)
      .filter(p => !p.getName.startsWith("."))
      .sortBy(_.getName)
    val gap = seen.isEmpty || retained.headOption.exists(p => seqOf(p.getName) > seqOf(seen) + 1)
    val pending = if (gap) retained else retained.filter(_.getName > seen)
    if (pending.isEmpty) return 0
    // an unreadable record could name any group: refresh them all
    val named = if (gap) Nil else pending.map(attGroupOf)
    val groups =
      if (gap || named.contains(None)) primary.listAttGroups() else named.flatten.distinct
    groups.foreach(refresh(_))
    writeMarker(pending.last.getName)
    pending.size
  }

  private def attGroupOf(record: Path): Option[String] =
    scala.util.Try {
      val in = fs.open(record)
      try om.readTree(in).get("attGroup").asText() finally in.close()
    }.toOption

  private def writeMarker(name: String): Unit = {
    val out = fs.create(marker, true)
    out.write(name.getBytes("UTF-8"))
    out.close()
  }

  /** Publish the primary's current state of one group on the replica.
    * A vacuum on the primary can delete a file between the resolve and
    * its copy, so a missing source re-resolves the primary once; a
    * file that is still live and still missing throws, and the replica
    * publishes no manifest naming it.
    */
  private def refresh(ag: String, retry: Boolean = true): Unit = {
    val (src, dst) = (new Path(primaryRoot, ag), new Path(replicaRoot, ag))
    val dstMeta = new Path(dst, BucketCatalog.MetaFile)
    if (!fs.exists(dstMeta))
      FileUtil.copy(fs, new Path(src, BucketCatalog.MetaFile), fs, dstMeta, false, true, conf)
    val (_, files, buckets, ranges) = primary.resolveCurrent(ag)
    try replica.adopt(ag, files, buckets, ranges)(_.foreach(f =>
      FileUtil.copy(fs, new Path(src, f), fs, new Path(dst, f), false, true, conf)))
    catch { case _: java.io.FileNotFoundException if retry => refresh(ag, retry = false) }
  }
}
