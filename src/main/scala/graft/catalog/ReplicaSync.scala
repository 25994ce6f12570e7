package graft.catalog

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Pull-based replica of a BucketCatalog root — the Spark-native shape
  * of the reference's master→replica replication, which streams WAL
  * transaction groups and replays them on the receiver
  * (replication/sender.go:14-48, receiver.go:12-40). Here the commit
  * log IS the stream: each record names exactly the partitions a
  * commit rewrote, so `sync()` copies only those partition directories
  * (or deletes ones a commit cleared) and is idempotent — re-running
  * after a partial failure converges.
  *
  * Progress is a marker file holding the last applied commit name;
  * multiple commits touching one partition collapse to a single copy
  * of its final state. The replica root is itself a valid
  * BucketCatalog (meta files ride along with the first commit of each
  * group), so a standby can serve reads with zero restore step.
  */
final class ReplicaSync(spark: SparkSession, primaryRoot: String, replicaRoot: String) {
  private val conf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path(primaryRoot).getFileSystem(conf)
  private val marker = new Path(replicaRoot, "_graft_replica_marker.txt")
  private val om = new ObjectMapper()
  private val primary = new BucketCatalog(spark, primaryRoot)

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
    * sequence number (oldest retained > marker + 1) and handled by
    * [[fullResync]] — a copy of every group's live snapshot — after
    * which tailing resumes from the newest record. The same path
    * bootstraps a FRESH replica attaching to a primary whose early
    * history is already pruned (empty marker, oldest retained > 1).
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
    if (retained.isEmpty) return 0
    val seenSeq = if (seen.isEmpty) 0L else seqOf(seen)
    if (seqOf(retained.head.getName) > seenSeq + 1) {
      fullResync()
      writeMarker(retained.last.getName)
      return retained.size
    }
    val pending = retained.filter(_.getName > seen)
    if (pending.isEmpty) return 0

    // last action per (attGroup, partition) wins — one copy of the
    // final state instead of replaying intermediate rewrites
    val finalActions = scala.collection.mutable.LinkedHashMap[(String, String), Boolean]()
    pending.foreach { p =>
      try {
        val in = fs.open(p)
        val node = om.readTree(in)
        in.close()
        val ag = node.get("attGroup").asText()
        val parts = node.get("partitions")
        (0 until parts.size()).foreach { i =>
          val raw = parts.get(i).asText()
          val cleared = raw.endsWith(":cleared")
          val rel = raw.stripSuffix(":cleared")
          finalActions.remove((ag, rel))
          finalActions((ag, rel)) = cleared
        }
      } catch { case NonFatal(_) => /* skip torn record */ }
    }

    finalActions.foreach { case ((ag, rel), cleared) =>
      val dst = new Path(new Path(replicaRoot, ag), rel)
      if (cleared) {
        if (fs.exists(dst)) fs.delete(dst, true)
        // prune now-empty parents (year and timeframe dirs), as the
        // primary's vacuum does, so no empty partition dir lingers
        var parent = dst.getParent
        val stop = new Path(replicaRoot, ag)
        while (parent != null && parent != stop &&
            fs.exists(parent) && fs.listStatus(parent).isEmpty) {
          fs.delete(parent, true)
          parent = parent.getParent
        }
      } else {
        // copy only the partition's LIVE files per the primary's
        // current manifest: its partition dirs also hold grace-retained
        // dead files (snapshot isolation), which a whole-dir copy would
        // resurrect as duplicate rows on the replica. The replica keeps
        // clean dirs, so its own catalog reads are exact without a
        // manifest of its own. A file vacuumed mid-copy is skipped;
        // the next sync (which sees the newer commit) converges.
        primary.liveFiles(ag) match {
          case Some(files) =>
            val mine = files.filter(_.startsWith(rel + "/"))
            if (fs.exists(dst)) fs.delete(dst, true)
            if (mine.nonEmpty) {
              fs.mkdirs(dst)
              mine.foreach { f =>
                val src = new Path(new Path(primaryRoot, ag), f)
                if (fs.exists(src))
                  FileUtil.copy(fs, src, fs, new Path(new Path(replicaRoot, ag), f),
                    false, true, conf)
              }
            }
          case None => // pre-manifest primary: whole-dir copy
            val src = new Path(new Path(primaryRoot, ag), rel)
            if (fs.exists(src)) {
              if (fs.exists(dst)) fs.delete(dst, true)
              fs.mkdirs(dst.getParent)
              FileUtil.copy(fs, src, fs, dst, false, true, conf)
            }
        }
      }
      // group meta rides along so the replica is a working catalog
      val srcMeta = new Path(new Path(primaryRoot, ag), BucketCatalog.MetaFile)
      val dstMeta = new Path(new Path(replicaRoot, ag), BucketCatalog.MetaFile)
      if (fs.exists(srcMeta) && !fs.exists(dstMeta))
        FileUtil.copy(fs, srcMeta, fs, dstMeta, false, true, conf)
    }

    writeMarker(pending.last.getName)
    pending.size
  }

  private def writeMarker(name: String): Unit = {
    val out = fs.create(marker, true)
    out.write(name.getBytes("UTF-8"))
    out.close()
  }

  /** Replace the replica's state with the primary's current live
    * snapshot, group by group — the recovery path when the tail of the
    * commit log no longer reaches this replica's marker (and the
    * bootstrap for a fresh replica on a pruned primary). Copies only
    * manifest-live files (grace-retained dead files would resurrect as
    * duplicate rows), plus each group's meta so the replica stays a
    * working catalog. Reads served DURING a resync may see a partially
    * replaced group — same as the reference's replica bootstrap, which
    * streams a snapshot before tailing (replication/sender.go:14-48).
    */
  private def fullResync(): Unit =
    primary.listAttGroups().foreach { ag =>
      val srcAg = new Path(primaryRoot, ag)
      val dstAg = new Path(replicaRoot, ag)
      if (fs.exists(dstAg)) fs.delete(dstAg, true)
      primary.liveFiles(ag) match {
        case Some(files) =>
          fs.mkdirs(dstAg)
          files.foreach { f =>
            val src = new Path(srcAg, f)
            if (fs.exists(src))
              FileUtil.copy(fs, src, fs, new Path(dstAg, f), false, true, conf)
          }
        case None => // pre-manifest primary: dirs are the live set
          if (fs.exists(srcAg)) {
            fs.mkdirs(dstAg.getParent)
            FileUtil.copy(fs, srcAg, fs, dstAg, false, true, conf)
          }
      }
      val srcMeta = new Path(srcAg, BucketCatalog.MetaFile)
      val dstMeta = new Path(dstAg, BucketCatalog.MetaFile)
      if (fs.exists(srcMeta) && !fs.exists(dstMeta))
        FileUtil.copy(fs, srcMeta, fs, dstMeta, false, true, conf)
    }
}
