package graft.catalog

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Pull-based replica of a BucketCatalog root — the Spark-native shape
  * of the reference's master→replica replication, which streams WAL
  * transaction groups and replays them on the receiver
  * (replication/sender.go:14-48, receiver.go:12-40). Here each
  * group's manifest is its commit record, so `sync()` compares every
  * group's replica manifest with the primary's current one and
  * republishes the groups that differ.
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
  * a group that already matches publishes nothing, and re-running
  * after a partial failure converges: a failed refresh publishes
  * nothing.
  *
  * A mutation on the replica is an ordinary commit there; the next
  * sync restores the primary's state of its group.
  */
final class ReplicaSync(spark: SparkSession, primaryRoot: String, replicaRoot: String) {
  private val conf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path(primaryRoot).getFileSystem(conf)
  private val primary = new BucketCatalog(spark, primaryRoot)
  private val replica = new BucketCatalog(spark, replicaRoot)

  /** Refresh every primary group; returns how many groups a replica
    * manifest version was published for. A group is republished
    * exactly when its replica manifest differs from the primary's
    * current one, so an idle sync returns 0 and writes nothing.
    */
  def sync(): Int = primary.listAttGroups().count(refresh(_))

  /** Publish the primary's current state of one group on the replica;
    * returns whether a replica manifest version was published.
    * A vacuum on the primary can delete a file between the resolve and
    * its copy, so a missing source re-resolves the primary once; a
    * file that is still live and still missing throws, and the replica
    * publishes no manifest naming it.
    */
  private def refresh(ag: String, retry: Boolean = true): Boolean = {
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
