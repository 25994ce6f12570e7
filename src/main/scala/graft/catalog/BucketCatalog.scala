package graft.catalog

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.TimeBucketKey
import graft.functions.Uda
import graft.operators.TimeSeries
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Bucket storage over partitioned parquet.
  *
  * Replaces the reference's on-disk catalog tree + year-file format
  * (catalog/catalog.go:18-116; file layout docs/design/
  * file_format_design.txt) with one parquet dataset per AttributeGroup
  * (SURVEY §7.1). The TBK resolves to partition predicates, so
  * Catalyst's partition pruning replaces the reference's directory
  * descent, and parquet min/max stats on Epoch replace the O(1)
  * time-offset arithmetic (utils/io/timeindex.go:32-60).
  *
  * == Physical layout: symbol-BUCKETED data files ==
  * Directories are `timeframe=T/year=Y/sbucket=B` where
  * B = crc32(symbol) mod N (N = `buckets=` in the group meta, default
  * [[BucketCatalog.DefaultSymbolBuckets]]); `symbol` is an ordinary
  * DATA column, SORTED within every file. This decouples the file
  * count of a commit from the symbol cardinality: a batch touching all
  * 16k symbols of the reference's design target
  * (docs/design/file_format_design.txt) commits ≤ N×years files, not
  * 16k — per-symbol directories would put a 1-minute ingest cadence at
  * ~23M files/day on any store. Single-symbol reads stay pruned twice:
  * partition pruning keeps 1/N of the files (the sbucket of the
  * symbol), and the pushed symbol predicate skips parquet row groups
  * via min/max stats on the sorted symbol column. The reference gets
  * the same decoupling from preallocated year files written in place.
  * Trade-off (documented, rare ops): destroy/deleteRange of one symbol
  * rewrite the (timeframe, year, sbucket) slices holding it instead of
  * unlinking a directory.
  *
  * Record-type semantics (utils/io/datatypes.go:12-18):
  *  - FIXED  ⇒ at most one row per (symbol, timeframe, epoch): writes
  *    upsert keyed on epoch — the reference's slot overwrite.
  *  - VARIABLE ⇒ many rows per second, keyed (epoch, nanoseconds);
  *    unsorted writes read back time-ordered (executor/sort.go:11-50).
  *
  * At cluster scale the upsert path rewrites only the
  * (timeframe, year, sbucket) partitions present in the batch:
  * rewrite cost is bounded by touched partitions, not table size.
  * Within a partition, steady FORWARD ingest is cheaper
  * still: the manifest tracks each partition's max Epoch, and a batch
  * whose min epoch strictly exceeds it APPENDS a new file without
  * reading or rewriting the partition at all (no key can collide) —
  * O(batch) per commit, the reference's in-place year-file append
  * re-expressed. The range a write records comes from the batch's own
  * metadata pass (its max Epoch, combined with the recorded range on a
  * merge), so a commit never opens the files it just wrote; only
  * partitions with no exact source (a merge partition with files but
  * no range entry, the delete/destroy/trim rewrites) read their staged
  * footers. Late or
  * overlapping data falls back to the merge
  * rewrite, and a partition reaching [[BucketCatalog.CompactAtFiles]]
  * live files is compacted by routing its next write through the
  * merge path — bounded smallfiles, 1/CompactAtFiles-amortized
  * rewrite amplification.
  *
  * == Snapshot isolation ==
  * Every commit is a MANIFEST flip: staged parquet files (unique
  * names) are moved into the live partition directories, then a new
  * versioned manifest listing the exact live files of the group is
  * published by atomic rename. Readers resolve the file list through
  * the current manifest — never by directory listing — so a reader
  * that planned a query just before a commit keeps reading the files
  * of the snapshot it pinned. A file no manifest names is invisible:
  * a group with no manifest yet holds no data, whatever its
  * directories contain, so a crash inside a group's first commit
  * leaves only orphans for [[recoverOrphanedStaging]]. Every root has
  * this one read path, a replica's included: [[ReplicaSync]]
  * publishes the replica's own manifest versions. Files that leave
  * the live set are retained on disk for
  * [[BucketCatalog.VacuumGraceCommits]] more commits before vacuum
  * deletes them: a read pinned at manifest V is
  * safe until commit V+3 of the same group lands. This is the role the
  * reference's WAL plays for its single server process
  * (executor/wal.go:29-45), re-expressed in the append-only
  * files-plus-log shape object stores replay best. Manifests are
  * INCREMENTAL: most commits publish a small DELTA record (this
  * commit's added/removed files and bucket changes) and every
  * [[BucketCatalog.ManifestCheckpointEvery]]-th commit publishes a
  * full SNAPSHOT — so manifest bytes written per commit are O(changed
  * files), not O(all files), at the reference's design target of 16k
  * symbols × years of partitions. Readers resolve a version from the
  * nearest snapshot at or below it plus the delta fold (bounded by the
  * checkpoint cadence); the writer keeps the resolved live set cached
  * in memory so commits stay O(delta) too.
  *
  * Concurrency contract: mutations are serialized per
  * (root, attributeGroup) by an in-process lock — concurrent writers
  * through one JVM (e.g. the RPC front's request pool) cannot lose
  * acknowledged rows to a read-merge-swap race. Across PROCESSES the
  * contract is single writer per ATTRIBUTE GROUP (r10; the reference
  * is single-writer-per-root only because one server process owns the
  * store and its WAL — on a cluster, ingest of different tables must
  * parallelize) — ENFORCED, not conventional: local roots take an
  * exclusive OS lock on `_graft_writer.lock` (root-wide; a local disk
  * is one node anyway); non-local roots hold a heartbeat lease PER
  * GROUP in `<ag>/_graft_writer.lease` with expiry-based takeover, a
  * monotonic fencing token won by exclusive-create claim files, and a
  * commit-time fence that stops a superseded writer before its
  * manifest flip. Every lease is a group lease. Readers are unlimited
  * in both dimensions. A commit stages inside its own group
  * (`<ag>/.staging_<nanos>`), and the manifest flip is its only
  * record: a commit never writes outside its group directory, and
  * once it lands it leaves no staging dir behind.
  * [[recoverOrphanedStaging]] cleans up after a crashed writer, one
  * group mutation at a time; [[ReplicaSync]] builds read replicas by
  * comparing each group's replica manifest with the primary's.
  */
class BucketCatalog(spark: SparkSession, root: String,
                    leaseExpiryMs: Long = BucketCatalog.DefaultLeaseExpiryMs) {
  import BucketCatalog._

  // Manifest-resolved reads hand Spark an EXPLICIT path per live file;
  // at the reference's ~16k-symbol design target the default parallel
  // file-listing job spawns one task per path (parallelism 10000) and
  // pure task-scheduling overhead dominates the wildcard read
  // (measured ~20 s for a 10k-file group locally). Batch the listing
  // into defaultParallelism tasks instead; only the default is
  // overridden so an operator's explicit setting wins.
  if (spark.conf.getOption("spark.sql.sources.parallelPartitionDiscovery.parallelism")
      .forall(_ == "10000"))
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.parallelism",
      spark.sparkContext.defaultParallelism.toString)

  // Commit staged files task-side (committer algorithm 2) instead of
  // the driver serially merging every output file at job commit —
  // at ~7 ms per checksummed local rename, v1's merge alone costs
  // minutes on a 16k-partition staged write. v2's weaker
  // task-failure atomicity is immaterial here: tasks write into a
  // throwaway per-commit staging dir, and anything a crashed job
  // leaves there is swept by recoverOrphanedStaging.
  if (spark.sparkContext.hadoopConfiguration
      .get("mapreduce.fileoutputcommitter.algorithm.version") == null)
    spark.sparkContext.hadoopConfiguration
      .set("mapreduce.fileoutputcommitter.algorithm.version", "2")

  private def agPath(attGroup: String) = s"$root/$attGroup"
  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  // the root's one spelling for the in-process locks and lease
  // bookkeeping: "/x", "file:/x" and "/x/" name one directory, and
  // same-JVM catalogs on it must serialize on the same group locks
  private lazy val rootKey = fs.makeQualified(new Path(root)).toString
  private val om = new ObjectMapper()

  private def mutate[T](attGroup: String)(body: => T): T = {
    // cross-PROCESS single-writer guard (the in-process writeLock
    // below serializes same-JVM writers): the contract is one writer
    // process per ATTRIBUTE GROUP — the reference enforces one writer
    // per root with an exclusive WAL file lock because it is a
    // single-node server; on a cluster, serializing ingest of
    // DIFFERENT tables behind one root-wide lock is a scale ceiling
    // the commit protocol doesn't need (manifests, version slots and
    // the commit-time CAS are already per-group).
    //  - Local roots: an OS advisory lock on `_graft_writer.lock`,
    //    held for the JVM's lifetime once the first mutation runs and
    //    released automatically on process death (no stale-lockfile
    //    problem). Local disks mean a single node, so the coarser
    //    root-wide scope costs nothing there.
    //  - Non-local roots (HDFS/object stores — no byte-range locks):
    //    a heartbeat LEASE file PER GROUP (`<ag>/_graft_writer.lease`)
    //    enforces the contract — see [[ensureWriterLease]] for the
    //    acquire/renew/takeover rules and [[fenceWriterLease]] for
    //    the commit-time fence a zombie writer cannot pass.
    if (rootIsLocalFs) BucketCatalog.acquireProcessLock(root, rootIsLocalFs)
    else ensureWriterLease(attGroup)
    writeLock(rootKey, attGroup).synchronized {
      // in-flight/last-mutation bookkeeping for the heartbeat's IDLE
      // RELEASE (r11): a group mutated once must not stay fenced to
      // this process for its whole lifetime — but a long-running
      // commit must never look idle mid-flight, so idleness is
      // "no mutation ACTIVE and none ENDED recently", not time since
      // the last lease renewal
      if (!rootIsLocalFs) BucketCatalog.noteMutationStart(leaseKey(attGroup))
      try body
      finally if (!rootIsLocalFs) BucketCatalog.noteMutationEnd(leaseKey(attGroup))
    }
  }

  // ---- writer lease (non-local roots) --------------------------------
  // One lease per attribute group (`<ag>/_graft_writer.lease`); every
  // primitive below is keyed by the group, and group leases are
  // independent, so writers on different groups of one root proceed in
  // parallel.

  private def leasePath(attGroup: String) =
    new Path(agPath(attGroup), WriterLeaseFile)
  private def leaseKey(attGroup: String) = rootKey + "#" + attGroup
  private def leaseLock(attGroup: String): Object =
    writeLock(rootKey, "__writer_lease:" + attGroup)

  /** (writer, fencing token, wall-clock ms at last renewal), or None
    * if no lease file exists. A read landing in another writer's
    * create-truncate window can see partial JSON — retried once after
    * a short pause; a STILL-unreadable lease throws (refusing loudly)
    * rather than reading as absent, because "absent" licenses a
    * destructive takeover and garbage must never do that.
    */
  private def readLease(attGroup: String): Option[(String, Long, Long)] = {
    def once(): Option[(String, Long, Long)] =
      if (!fs.exists(leasePath(attGroup))) None
      else {
        val in = fs.open(leasePath(attGroup))
        try {
          val n = om.readTree(in)
          Some((n.get("writer").asText(), n.get("token").asLong(),
            n.get("ts").asLong()))
        } finally in.close()
      }
    try once()
    catch {
      case NonFatal(_) =>
        Thread.sleep(50)
        try once()
        catch {
          case NonFatal(e) =>
            throw new IllegalStateException(
              s"unreadable writer lease at ${leasePath(attGroup)} " +
                s"(${e.getMessage}); refusing to mutate — repair or " +
                s"remove $WriterLeaseFile manually if it is corrupt", e)
        }
    }
  }

  /** overwrite = true for renewals and for a takeover confirmed by a
    * won CLAIM (we own the slot); exclusive create only for the
    * lease-absent bootstrap. `release` stamps ts = 0 — an explicit
    * hand-back (always-expired, token preserved) so the next acquirer
    * takes over immediately with a bump instead of waiting out the
    * expiry; used by [[releaseWriterLease]].
    */
  private def writeLease(attGroup: String, token: Long,
      overwrite: Boolean, release: Boolean = false): Unit = {
    val ts = if (release) 0L else System.currentTimeMillis()
    val body = s"""{"writer": "${BucketCatalog.processWriterId}", """ +
      s""""token": $token, "ts": $ts}"""
    val out = fs.create(leasePath(attGroup), overwrite)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def claimPath(attGroup: String, token: Long) =
    new Path(agPath(attGroup), s"$WriterLeaseFile.claim.$token")

  /** Atomic create-if-absent with the strongest primitive the root's
    * FileSystem offers: HDFS/object-store creates with overwrite=false
    * are exclusive server-side; Hadoop's LOCAL filesystems implement
    * them as a check-then-act pair, so local roots (incl. re-schemed
    * test roots) go through nio's O_EXCL createFile instead. Returns
    * false when the path already exists (the caller lost the slot).
    */
  private def createExclusive(p: Path, body: String): Boolean =
    graft.core.FsOps.createExclusive(fs, p, body)

  /** Atomic takeover of an expired/absent lease: CLAIM the bumped
    * fencing token by exclusive create of a token-named file. The
    * lease file itself is never deleted, so a racer cannot clobber a
    * winner's fresh lease (the old delete→create window); every
    * contender that read the same expired state computes the SAME
    * claim name, exclusive create admits exactly one, and the rest
    * throw here. Tokens are therefore globally unique across
    * takeovers — two writers can never fence at the same token.
    *
    * A claim whose creator died before rewriting the lease (sub-ms
    * window) would otherwise wedge the slot: a claim older than the
    * lease expiry with the lease still expired is ruled dead and the
    * NEXT token is tried — disagreement about staleness needs a
    * claim within ±expiry of the boundary, at which point the fresh
    * reader refuses and only the stale reader advances, keeping the
    * one-winner-per-slot invariant. Returns the token won.
    */
  private[graft] def claimTakeover(attGroup: String, expiredToken: Long): Long = {
    // per-ATTEMPT nonce, not just the writer id: contenders must be
    // distinguishable even inside one process, and the read-back
    // below re-checks authorship as a second fence behind the
    // exclusive create
    val nonce = java.util.UUID.randomUUID().toString
    val body = s"""{"writer": "${BucketCatalog.processWriterId}", """ +
      s""""nonce": "$nonce", "ts": ${System.currentTimeMillis()}}"""
    def lost(t: Long) = throw new IllegalStateException(
      s"lost a writer-lease takeover race on ${leasePath(attGroup)}: " +
        s"token $t already claimed")
    fs.mkdirs(new Path(agPath(attGroup)))
    // SPENT claims (token <= the lease's) are swept on ENTRY, never by
    // their winner: a winner that deleted its own claim right after
    // the lease rewrite would recycle the token — a contender that
    // read the same expired state but arrived a few ms late could
    // exclusive-create the SAME claim name again and fence at the
    // winner's token. Takeovers always scan from the lease token + 1,
    // so a spent claim never blocks anyone; it just waits here for the
    // next takeover (whose expiredToken is >= it) to collect it. The
    // 16-slot window matches the scan budget below.
    math.max(1L, expiredToken - 16).to(expiredToken).foreach(s =>
      try fs.delete(claimPath(attGroup, s), false) catch { case NonFatal(_) => () })
    var t = expiredToken + 1
    while (t <= expiredToken + 16) {
      if (createExclusive(claimPath(attGroup, t), body)) {
        // read-back arbitration: our nonce must be what the slot holds
        val ok =
          try { val in = fs.open(claimPath(attGroup, t)); try om.readTree(in).get("nonce").asText() == nonce finally in.close() }
          catch { case NonFatal(_) => false }
        if (!ok) lost(t)
        // stale claims we advanced past (creators died pre-rewrite)
        // are ours to clean; our OWN claim stays until the next
        // takeover's entry sweep (see above)
        (expiredToken + 1).to(t - 1).foreach(s =>
          try fs.delete(claimPath(attGroup, s), false) catch { case NonFatal(_) => () })
        return t
      } else {
        // claim exists: fresh -> lost the race; stale (creator died
        // before rewriting the lease) -> advance to the next slot.
        // An unreadable claim falls back to file mtime so garbage
        // refuses while fresh but cannot wedge the slot forever.
        val ts =
          try { val in = fs.open(claimPath(attGroup, t)); try om.readTree(in).get("ts").asLong() finally in.close() }
          catch { case NonFatal(_) =>
            try fs.getFileStatus(claimPath(attGroup, t)).getModificationTime
            catch { case NonFatal(_) => System.currentTimeMillis() } }
        if (System.currentTimeMillis() - ts < leaseExpiryMs) lost(t)
      }
      t += 1
    }
    throw new IllegalStateException(
      s"writer-lease takeover on ${leasePath(attGroup)} found " +
        s"${t - expiredToken - 1} stale claim slots — repair or remove " +
        s"$WriterLeaseFile.claim.* manually")
  }

  /** Acquire or renew this process's writer lease on `attGroup` (one
    * lease PER GROUP, so ingest of different tables parallelizes
    * across processes). The single-writer contract is ENFORCED (or at
    * least loud) per group on filesystems without byte-range locks.
    * Rules:
    *  - our own lease renews (fresh `ts`, token unchanged); renewal
    *    I/O is skipped while the last renewal is younger than a
    *    quarter of the expiry, and a daemon HEARTBEAT re-renews every
    *    quarter-expiry for as long as the lease is held — so a
    *    mutation whose Spark job outlives the expiry (a multi-minute
    *    merge commit is routine at 16k symbols) stays live instead of
    *    presenting as expired and getting superseded mid-commit;
    *  - a foreign lease younger than `leaseExpiryMs` REFUSES the
    *    mutation (another live writer owns the group);
    *  - an absent or expired lease is taken over with a BUMPED
    *    fencing token won atomically via [[claimTakeover]] (exclusive
    *    create of a token-named claim file — exactly one of N
    *    concurrent contenders wins, tokens are globally unique), then
    *    read back; the commit-time [[fenceWriterLease]] still guards
    *    the publish instant (storage-side CAS remains the
    *    zero-window hook there).
    * Clock caveat: expiry compares wall clocks across writers, so the
    * contract assumes skew well under the expiry — the standard lease
    * assumption (e.g. Chubby §2.1's bounded clock drift).
    */
  private def ensureWriterLease(attGroup: String): Unit =
    leaseLock(attGroup).synchronized {
      // a mutation is arriving: stamp under the lease lock BEFORE the
      // fast path, so a heartbeat racing this acquisition (both
      // synchronize here) can never idle-release the lease between
      // this return and mutate()'s in-flight bookkeeping — that
      // release would fail the commit at the fence for no reason
      BucketCatalog.leaseLastMutation.put(leaseKey(attGroup), System.nanoTime())
      val renewNanos = leaseExpiryMs * 1000000L / 4
      val cached = BucketCatalog.leases.get(leaseKey(attGroup))
      if (cached != null && System.nanoTime() - cached._2 < renewNanos) ()
      else {
        val now = System.currentTimeMillis()
        readLease(attGroup) match {
          // ts == 0 is an explicit RELEASE — an invitation for anyone
          // to take over. Our own released lease must NOT resurrect
          // via plain renewal (a foreign contender may be mid-takeover
          // on it right now, claim won, rewrite pending — renewal
          // would put two writers at adjacent tokens); fall through to
          // the takeover path, whose claim + belt re-read arbitrate.
          case Some((w, t, ts))
            if w == BucketCatalog.processWriterId && ts != 0L =>
            writeLease(attGroup, t, overwrite = true)
            BucketCatalog.leases.put(leaseKey(attGroup), (t, System.nanoTime()))
            startHeartbeat(attGroup)
          case Some((w, _, ts)) if now - ts < leaseExpiryMs =>
            throw new IllegalStateException(
              s"another writer ($w) holds a live lease on " +
                s"${leasePath(attGroup)} (age ${now - ts} ms < expiry " +
                s"$leaseExpiryMs ms); the catalog contract is a single " +
                "writer per attribute group — point this writer at its " +
                "own group or wait for the lease to expire")
          case other =>
            // atomic takeover (r9): win the bumped token by exclusive
            // create of a claim file — the lease file is never
            // deleted, so exactly one of N contenders racing the same
            // expired state proceeds and a loser can never clobber
            // the winner's fresh lease (the old delete→create window).
            val t = claimTakeover(attGroup, other.map(_._2).getOrElse(0L))
            // belt to the claim's braces (r10): re-read the lease
            // right before rewriting it — if it changed since the
            // expired read (the old holder's late heartbeat revived
            // it), abort instead of clobbering a live writer.
            if (readLease(attGroup) != other)
              throw new IllegalStateException(
                s"lost a writer-lease takeover race on ${leasePath(attGroup)}: " +
                  "the lease changed between the expired read and the claim")
            try writeLease(attGroup, t, overwrite = other.isDefined)
            catch {
              case NonFatal(e) => throw new IllegalStateException(
                s"writer-lease takeover on ${leasePath(attGroup)} won claim " +
                  s"$t but could not rewrite the lease: ${e.getMessage}", e)
            }
            // NOTE: the won claim file is NOT deleted here — deleting
            // it would recycle the token for a contender arriving a
            // few ms late (same expired read, same claim name). The
            // next takeover's entry sweep collects it once the lease
            // token has moved past it.
            readLease(attGroup) match {
              case Some((w2, t2, _))
                if w2 == BucketCatalog.processWriterId && t2 == t =>
                BucketCatalog.leases.put(leaseKey(attGroup), (t, System.nanoTime()))
                startHeartbeat(attGroup)
              case got =>
                throw new IllegalStateException(
                  s"lost a writer-lease takeover race on ${leasePath(attGroup)}: $got")
            }
        }
      }
    }

  /** Register this group's daemon lease renewer (once per process and
    * group): every quarter-expiry, while the leases map says we hold
    * the lease, rewrite it with a fresh `ts` — unless the file shows a
    * foreign writer (we were superseded while idle: stop renewing and
    * drop the held entry so the next mutation refuses/fences cleanly).
    *
    * IDLE RELEASE (r11): a writer that touched a group once would
    * otherwise heartbeat it until process death, blocking foreign
    * writers on that group for its whole lifetime. A group with no
    * mutation IN FLIGHT and none ended within
    * [[BucketCatalog.IdleReleaseQuarters]] quarter-expiries is handed
    * back instead of renewed (the explicit ts = 0 release, so a
    * foreign acquirer takes over immediately with a token bump rather
    * than waiting out an expiry); this process's next mutation on the
    * group re-acquires through the same takeover path. Idleness is
    * measured from mutation bookkeeping ([[mutate]]), never from
    * renewal times — a multi-minute commit keeps its lease however
    * long its Spark jobs run. Never throws into the scheduler.
    */
  private def startHeartbeat(attGroup: String): Unit = {
    val key = leaseKey(attGroup)
    BucketCatalog.leaseHeartbeats.computeIfAbsent(key, _ =>
      BucketCatalog.leaseScheduler.scheduleWithFixedDelay(
        () => leaseLock(attGroup).synchronized {
          try {
            Option(BucketCatalog.leases.get(key)).foreach { case (t, _) =>
              if (BucketCatalog.idleBeyond(key,
                  leaseExpiryMs / 4 * BucketCatalog.IdleReleaseQuarters))
                releaseWriterLease(attGroup)
              else readLease(attGroup) match {
                case Some((w, t2, _))
                  if w == BucketCatalog.processWriterId && t2 == t =>
                  writeLease(attGroup, t, overwrite = true)
                  BucketCatalog.leases.put(key, (t, System.nanoTime()))
                case _ => BucketCatalog.leases.remove(key)
              }
            }
          } catch { case NonFatal(_) => () }
        },
        leaseExpiryMs / 4, leaseExpiryMs / 4,
        java.util.concurrent.TimeUnit.MILLISECONDS))
    ()
  }

  /** Hand the group's lease back (the idle heartbeat, and the orphan
    * sweep for a lease it took only to sweep, so a foreign writer need
    * not wait out a full expiry): stop the heartbeat, drop the held
    * entry, and stamp the lease file ts = 0 — always-expired with the
    * token PRESERVED, so the next acquirer takes over monotonically
    * (bump via claim) instead of bootstrapping. No-op if we don't
    * hold it.
    */
  private def releaseWriterLease(attGroup: String): Unit =
    leaseLock(attGroup).synchronized {
      val key = leaseKey(attGroup)
      Option(BucketCatalog.leaseHeartbeats.remove(key)).foreach(_.cancel(false))
      val held = Option(BucketCatalog.leases.remove(key)).map(_._1)
      held.foreach { t =>
        readLease(attGroup) match {
          case Some((w, t2, _))
            if w == BucketCatalog.processWriterId && t2 == t =>
            try writeLease(attGroup, t, overwrite = true, release = true)
            catch { case NonFatal(_) => () } // expiry still unblocks
          case _ => () // superseded while idle — nothing ours to release
        }
      }
    }

  /** Commit-time fence (non-local roots): re-read the lease just
    * before the manifest flip and refuse to publish if this process
    * no longer holds it at the token it acquired — a writer that
    * stalled past its expiry and was superseded is refused here,
    * before its staged data can become visible. One small read per
    * commit. Residual window: a contender whose takeover lands
    * BETWEEN this read and the manifest rename publishes concurrently
    * with us — bounding that window to zero needs a storage-side
    * compare-and-set (e.g. S3 conditional PUT keyed on the fencing
    * token, HDFS lease recovery); the monotonic token carried here is
    * the hook for wiring one in. With the heartbeat keeping healthy
    * writers live, entering this window at all requires a writer
    * stalled for a full expiry that wakes in exactly that instant.
    */
  private def fenceWriterLease(attGroup: String): Unit = {
    val held = Option(BucketCatalog.leases.get(leaseKey(attGroup))).map(_._1)
    readLease(attGroup) match {
      case Some((w, t, _))
        if w == BucketCatalog.processWriterId && held.contains(t) => ()
      case got =>
        throw new IllegalStateException(
          s"writer lease on ${leasePath(attGroup)} lost before manifest " +
            s"publish (held token $held, found $got); commit fenced — " +
            "another writer superseded this process")
    }
  }

  // local-ness of the root decided from the RESOLVED FileSystem (the
  // same resolution every read/write uses), not the raw URI scheme —
  // a scheme-less root under a non-local fs.defaultFS must NOT take
  // a meaningless lock on the driver's local disk
  // via getUri, not FileSystem.getScheme(): the base-class getScheme
  // THROWS UnsupportedOperationException for implementations that
  // don't override it — RawLocalFileSystem among them, which Bench.session
  // installs for checksum-free local IO
  private lazy val rootIsLocalFs = fs.getUri.getScheme == "file"

  // resolved (version, files, buckets, partition→maxEpoch ranges) of
  // each group's current manifest; versions are immutable once
  // published, so entries are valid at their exact version and as
  // fold bases for newer deltas
  private val resolvedCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Seq[String], Seq[String], Map[String, Long])]()
  // "attGroup#version" → is-snapshot, so retention checks don't
  // re-read manifest bodies
  private val kindCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Create an attribute group with [[DefaultSymbolBuckets]] symbol
    * buckets (see class doc). The count is recorded in the group meta
    * as `buckets=N` and fixed for the group's lifetime.
    */
  def create(tbk: TimeBucketKey, schema: StructType, isVariable: Boolean): Unit =
    mutate(tbk.attGroup) {
      val meta = new Path(agPath(tbk.attGroup), MetaFile)
      if (!fs.exists(meta)) {
        val out = fs.create(meta, true)
        val kind = (if (isVariable) "variable" else "fixed") +
          s" buckets=$DefaultSymbolBuckets"
        // schema as JSON: unlike DDL it round-trips field metadata
        // (char/varchar length caps for STRING16 enforcement)
        out.write(s"$kind\n${schema.json}\n".getBytes("UTF-8"))
        out.close()
      }
    }

  def isVariable(attGroup: String): Boolean = readMeta(attGroup)._1

  /** The group's symbol-bucket count N (its meta's `buckets=N`). */
  def layoutBuckets(attGroup: String): Int = readMeta(attGroup)._3

  private def readMeta(attGroup: String): (Boolean, StructType, Int) = {
    val meta = new Path(agPath(attGroup), MetaFile)
    val in = fs.open(meta)
    val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    in.close()
    val lines = txt.split("\n")
    val schema = org.apache.spark.sql.types.DataType.fromJson(lines(1))
      .asInstanceOf[StructType]
    val tokens = lines(0).trim.split("\\s+")
    val buckets = tokens.collectFirst {
      case t if t.startsWith("buckets=") => t.stripPrefix("buckets=").toInt
    }.getOrElse(throw new IllegalStateException(
      s"group meta $meta has no buckets= token; the catalog reads only " +
        "the symbol-bucketed layout"))
    (tokens(0) == "variable", schema, buckets)
  }

  private def sbucketOf(symbol: String, n: Int): Int =
    BucketCatalog.symbolBucket(symbol, n)

  private def sbucketCol(n: Int) =
    pmod(crc32(col("symbol").cast("binary")), lit(n.toLong)).cast("int")

  /** A row's physical partition name, `timeframe=T/year=Y/sbucket=B` —
    * the manifest's partition key, as a Column over the partition
    * columns only, so a predicate on it prunes at the file index.
    */
  private val partitionKey =
    concat(lit("timeframe="), col("timeframe"), lit("/year="), col("year").cast("string"),
      lit("/sbucket="), col("sbucket").cast("string"))

  /** Upsert a batch of rows for one bucket. df must carry Epoch (long
    * seconds) + payload columns (+ Nanoseconds for variable buckets —
    * auto-added as 0 otherwise, matching utils/io/rowseries.go:176-181).
    *
    * Callers wanting a written-row count without a second execution
    * attach an `Observation` to `df` BEFORE calling (see
    * SqlService.insert) — the CollectMetrics node rides the write job.
    * The catalog itself stays observation-free: `Observation.get`
    * deadlocks on the stream-execution thread (foreachBatch), which is
    * exactly where the downsample cascade calls [[writeMulti]].
    */
  def write(tbk: TimeBucketKey, df: DataFrame): Unit =
    writeMulti(tbk.attGroup, tbk.timeframe, df.withColumn("symbol", lit(tbk.symbol)))

  /** Write-side type coercion (utils/io/coercecolumn.go:19-130 +
    * GetMissingAndTypeCoercionColumns, columnseries.go:486-542):
    * incoming columns cast to the bucket's declared types, declared
    * columns missing from the batch null-filled, and length-capped
    * strings (STRING16, datatypes.go:78) rejected when too long
    * (mirrors integ test_string16.py "test_too_long_string").
    */
  private def coerce(df: DataFrame, declared: StructType): DataFrame = {
    val byName = df.columns.map(c => c.toLowerCase -> c).toMap
    val cols = declared.fields.toSeq.map { f =>
      val vcLen = org.apache.spark.sql.catalyst.util.CharVarcharUtils
        .getRawType(f.metadata).collect {
          case org.apache.spark.sql.types.VarcharType(n) => n
          case org.apache.spark.sql.types.CharType(n) => n
        }
      byName.get(f.name.toLowerCase) match {
        case Some(src) =>
          val base = if (df.schema(src).dataType == f.dataType) col(src) else col(src).cast(f.dataType)
          vcLen match {
            case Some(n) =>
              when(length(base) > n, raise_error(
                concat(lit(s"string too long for ${f.name} (max $n): "), base)))
                .otherwise(base).as(f.name)
            case None => base.as(f.name)
          }
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    // timeframe rides through when present (the multi-timeframe write
    // keys everything downstream on it); layout keys are never coerced
    val keep = Seq(col("symbol")) ++
      (if (df.columns.contains("timeframe")) Seq(col("timeframe")) else Nil)
    df.select(keep ++ cols: _*)
  }

  /** Multi-symbol upsert: df carries a `symbol` column alongside Epoch
    * + payload. One Spark job upserts every symbol's partition — the
    * cascade/trigger path writes all touched symbols at once instead
    * of a per-symbol job fan-out. A bucket that was never create()d is
    * created from the first batch's schema (executor/writer.go:287-320).
    */
  def writeMulti(attGroup: String, timeframe: String, df: DataFrame): Unit =
    writeMultiTf(attGroup,
      df.drop("timeframe").withColumn("timeframe", lit(timeframe)))

  /** Multi-symbol, multi-TIMEFRAME upsert in ONE manifest commit: df
    * carries `timeframe` alongside `symbol`. Every downstream stage —
    * key dedup, partition routing, append/merge split, the manifest
    * delta — is already keyed on the timeframe COLUMN, so committing
    * N timeframes together costs one commit instead of N. The
    * downsample cascade uses this to land all its destination
    * timeframes atomically per batch (readers never see 5Min updated
    * but 1H stale), and per-batch commit overhead stops scaling with
    * the destination count.
    */
  def writeMultiTf(attGroup: String, df: DataFrame): Unit =
    mutate(attGroup) {
      require(df.columns.contains("symbol"), "writeMulti needs a symbol column")
      require(df.columns.contains("timeframe"), "writeMultiTf needs a timeframe column")
      if (!fs.exists(new Path(agPath(attGroup), MetaFile))) {
        val inferred = StructType(df.schema.fields.filterNot(f =>
          Seq("symbol", "timeframe", "year", "sbucket").contains(f.name)))
        create(TimeBucketKey("__infer", "__multi", attGroup), inferred,
          isVariable = df.columns.contains(Uda.NanosCol))
      }
      val (variable, declared, nb) = readMeta(attGroup)
      val keyed0 = coerce(df, declared)
        .withColumn("year", year(timestamp_seconds(col(Uda.EpochCol))))
      val keyed1 =
        if (variable && !keyed0.columns.contains(Uda.NanosCol))
          keyed0.withColumn(Uda.NanosCol, lit(0))
        else keyed0
      val dedupKeys =
        Seq("symbol", "timeframe", Uda.EpochCol) ++ (if (variable) Seq(Uda.NanosCol) else Nil)
      // collapse in-batch duplicate keys up front: the merge path's
      // unionKeepLast used to absorb them as a side effect, but the
      // append fast path (and group creation) write the batch as-is —
      // the fixed-record "one row per key" contract must not depend
      // on which route the batch takes. The winner is DETERMINISTIC:
      // the row with the greatest value tuple (struct comparison over
      // the non-key columns, CatalogSpec-pinned) — a batch DataFrame
      // carries no row order, so "last write wins" is undefined within
      // one batch and dropDuplicates' plan-dependent survivor would
      // make re-runs diverge. Partial-aggregated (max_by), no window.
      val allCols = keyed1.columns.toSeq
      val valCols = allCols.filterNot(dedupKeys.contains)
      val keyedU =
        if (valCols.isEmpty) keyed1.dropDuplicates(dedupKeys)
        else keyed1.groupBy(dedupKeys.map(col): _*)
          .agg(max_by(struct(allCols.map(col): _*),
            struct(valCols.map(col): _*)).as("__row"))
          .select(allCols.map(c => col(s"__row.$c").as(c)): _*)
      val keyed = keyedU.withColumn("sbucket", sbucketCol(nb))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // ONE metadata pass over the cached batch: per-(symbol,
        // timeframe, year) min and max Epoch — bounded by the symbol
        // cardinality the manifest's bucket registry lists anyway —
        // yields the logical buckets, the touched physical partitions,
        // the batch's min epoch per partition for append routing, and
        // its max for the partition's new range. The cache is what
        // keeps this pass from costing a second evaluation of `df`:
        // the merge and the staged write below read the same cached
        // rows, so the caller's plan (a cascade's candle aggregation,
        // an INSERT's SELECT) runs once per commit.
        val touched = keyed.groupBy("symbol", "timeframe", "year")
          .agg(min(col(Uda.EpochCol)).as("__mn"), max(col(Uda.EpochCol)).as("__mx"))
          .collect().map(r =>
            (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
        val logical = touched.map { case (s, t, _, _, _) => s"symbol=$s/timeframe=$t" }.toSet
        val batchSpan: Map[String, (Long, Long)] = touched
          .map { case (s, t, y, mn, mx) =>
            (s"timeframe=$t/year=$y/sbucket=${sbucketOf(s, nb)}", (mn, mx)) }
          .groupBy(_._1).map { case (p, ms) =>
            p -> ((ms.map(_._2._1).min, ms.map(_._2._2).max)) }
        // APPEND fast path per partition: when the batch's min epoch
        // strictly exceeds the partition's manifest-tracked max, no key
        // can collide — the batch's rows land as a NEW file and the
        // partition's existing files are never read or rewritten.
        // Steady forward ingest (the 1-minute-bar cadence) is then
        // O(batch) per commit instead of O(accumulated partition) — the
        // merge-rewrite amplification the reference avoids with in-place
        // year files. Late/overlapping data, unknown ranges (pre-feature
        // manifests, post-delete partitions), and partitions whose file
        // count reached CompactAtFiles take the merge path, which
        // rewrites the partition into fresh files (compaction and range
        // healing in the same commit).
        val (_, currentFiles, _, stored) = resolveCurrent(attGroup)
        val fileCount: Map[String, Int] = currentFiles.groupBy(partOf)
          .map { case (p, fsq) => p -> fsq.size }
        val appendable = batchSpan.keySet.filter { p =>
          stored.get(p).exists(_ < batchSpan(p)._1) &&
            fileCount.getOrElse(p, 0) < CompactAtFiles
        }
        val mergeParts = (batchSpan.keySet -- appendable).toSeq
        // the merge reads its old rows through a LITERAL predicate on
        // the partition columns, so the file index prunes the scan to
        // exactly the merge partitions' files (over the per-version
        // cached frame)
        val merged = readAg(attGroup) match {
          case Some(old) if mergeParts.nonEmpty =>
            val oldAffected = old.filter(partitionKey.isin(mergeParts: _*))
            TimeSeries.unionKeepLast(
              oldAffected.select(keyed.columns.map(col): _*), keyed, dedupKeys)
          case _ => keyed
        }
        // each partition's new max Epoch, exact without reading a file
        // back: an append partition's max is the batch's (eligibility
        // put every stored row below the batch min); a merge keeps
        // every old key, so a merge partition's max is the greater of
        // its recorded range and the batch's; and a partition with no
        // live file holds only the batch — every partition of a group's
        // first commit, since a group with no manifest holds no file.
        // The rest, a merge partition with files but no range entry,
        // has no exact source here, and stageSwap reads its staged
        // footers.
        val newRanges: Map[String, Long] =
          batchSpan.flatMap { case (p, (_, mx)) =>
            stored.get(p) match {
              case Some(r) => Some(p -> math.max(r, mx))
              case None if !fileCount.contains(p) => Some(p -> mx)
              case None => None
            }
          }
        stageSwap(merged, attGroup, logicalBuckets = logical, appendParts = appendable,
          knownRanges = newRanges)
      } finally keyed.unpersist(blocking = false)
    }

  /** Recursive walk of `k=v` partition directories under `base`,
    * yielding (leaf partition rel path, file) pairs — the
    * `timeframe=T/year=Y/sbucket=B` leaves of a group or of a staging
    * dir. Only `k=v` dirs are entered, so a group's engine dirs
    * (`_graft_*`) and its `.staging_*` dirs are never walked, and
    * dot/underscore files never match.
    */
  private def walkPartitionFiles(base: Path): Seq[(String, Path)] = {
    def rec(dir: Path, rel: String): Seq[(String, Path)] =
      fs.listStatus(dir).toSeq.flatMap { s =>
        val name = s.getPath.getName
        if (s.isDirectory && name.contains("="))
          rec(s.getPath, if (rel.isEmpty) name else s"$rel/$name")
        else if (s.isFile && rel.nonEmpty && !name.startsWith(".") && !name.startsWith("_"))
          Seq((rel, s.getPath))
        else Nil
      }
    if (!fs.exists(base)) Nil else rec(base, "")
  }

  /** The partition dir of a group-relative file path. */
  private def partOf(file: String): String = file.substring(0, file.lastIndexOf('/'))

  /** All data files physically present under the group's partition
    * dirs (live + grace + foreign), rel paths — the recovery sweep's
    * and the integrity tool's disk view.
    */
  def dataFilesOnDisk(attGroup: String): Seq[String] =
    walkPartitionFiles(new Path(agPath(attGroup)))
      .map { case (rel, f) => s"$rel/${f.getName}" }

  // ------------------------------------------------------------ manifests

  private def manifestDirPath(attGroup: String) = new Path(agPath(attGroup), ManifestDir)
  private def manifestName(v: Long) = f"$v%015d.json"

  /** The group's newest manifest version; 0 when it has none. */
  private def currentManifestVersion(attGroup: String): Long =
    manifestVersions(attGroup).lastOption.getOrElse(0L)

  /** One manifest record, parsed. Two kinds: a SNAPSHOT ("kind"
    * absent — legacy — or "snapshot") lists the group's complete live
    * state; a DELTA lists only its commit's changes (added/removed
    * files, addBuckets/removeBuckets). Both carry "removed" — the
    * files that left the live set AT that commit — which is what
    * vacuum consumes. `buckets` are the symbol=S/timeframe=T pairs
    * that EXIST, possibly with zero files — a fully-trimmed bucket
    * stays listed (the reference's trim empties a bucket without
    * deleting it, cmd/connect/session/trim.go).
    */
  private def readManifestNode(attGroup: String, v: Long): JsonNode = {
    val in = fs.open(new Path(manifestDirPath(attGroup), manifestName(v)))
    try om.readTree(in) finally in.close()
  }

  private def arr(node: JsonNode, k: String): Seq[String] = {
    val a = node.get(k)
    if (a == null) Nil else (0 until a.size()).map(a.get(_).asText())
  }

  private def isSnapshotNode(node: JsonNode): Boolean = {
    val k = node.get("kind")
    k == null || k.asText() == "snapshot"
  }

  private def isSnapshotVersion(attGroup: String, v: Long): Boolean =
    kindCache.computeIfAbsent(s"$attGroup#$v",
      _ => isSnapshotNode(readManifestNode(attGroup, v)))

  /** Partition→maxEpoch map of one manifest node ("ranges" object;
    * absent on pre-feature manifests → empty, which routes every
    * partition through the merge path until its next rewrite heals
    * the entry from staged-file footer stats).
    */
  private def rangesOf(node: JsonNode, k: String): Map[String, Long] = {
    val o = node.get(k)
    if (o == null) Map.empty
    else {
      val b = Map.newBuilder[String, Long]
      val it = o.fieldNames()
      while (it.hasNext) { val k2 = it.next(); b += (k2 -> o.get(k2).asLong()) }
      b.result()
    }
  }

  /** (files, buckets, ranges) of one manifest version: walk down to
    * the nearest snapshot (or to `from`, an already-resolved lower
    * version — the writer's cache), then fold the deltas back up. The
    * walk is bounded by the checkpoint cadence.
    */
  private def resolveVersion(attGroup: String, v: Long,
      from: Option[(Long, Seq[String], Seq[String], Map[String, Long])] = None)
      : (Seq[String], Seq[String], Map[String, Long]) = {
    var deltas = List.empty[JsonNode]
    var w = v
    var base: (Seq[String], Seq[String], Map[String, Long]) = null
    while (base == null) {
      from match {
        case Some((cv, cf, cb, cr)) if cv == w => base = (cf, cb, cr)
        case _ =>
          if (w < 1) throw new IllegalStateException(
            s"no snapshot manifest at or below v$v for $attGroup")
          val node =
            try readManifestNode(attGroup, w)
            catch { case _: java.io.FileNotFoundException =>
              throw new IllegalArgumentException(
                s"manifest v$w needed to resolve v$v of $attGroup is gone " +
                  s"(retained: ${manifestVersions(attGroup).mkString(", ")})")
            }
          kindCache.put(s"$attGroup#$w", isSnapshotNode(node))
          if (isSnapshotNode(node))
            base = (arr(node, "files"), arr(node, "buckets"), rangesOf(node, "ranges"))
          else { deltas ::= node; w -= 1 } // prepend ⇒ ascending fold order
      }
    }
    var files = base._1
    var buckets = base._2.toSet
    var ranges = base._3
    deltas.foreach { d =>
      val removed = arr(d, "removed").toSet
      files = files.filterNot(removed) ++ arr(d, "added")
      buckets = buckets ++ arr(d, "addBuckets") -- arr(d, "removeBuckets")
      ranges = ranges ++ rangesOf(d, "setRanges") -- arr(d, "clearRanges")
    }
    (files, buckets.toSeq, ranges)
  }

  /** (version, files, buckets, ranges) of the current manifest
    * through the instance cache; a group with no manifest is version 0,
    * empty, and every version folds up from it. Published versions are
    * immutable, so a cache hit at the exact current version is always
    * valid; a cache at a lower version serves as the fold base for the
    * newer deltas (saving the snapshot re-read on the single-writer's
    * hot path).
    */
  private[catalog] def resolveCurrent(attGroup: String)
      : (Long, Seq[String], Seq[String], Map[String, Long]) = {
    val v = currentManifestVersion(attGroup)
    val cached = Option(resolvedCache.get(attGroup)).filter(_._1 <= v)
      .getOrElse((0L, Nil, Nil, Map.empty[String, Long]))
    val r =
      if (cached._1 == v) cached
      else {
        val (files, buckets, ranges) = resolveVersion(attGroup, v, Some(cached))
        (v, files, buckets, ranges)
      }
    resolvedCache.put(attGroup, r)
    r
  }

  /** Live data files (rel paths under the group dir) per the current
    * manifest — the read snapshot. None ⇒ no manifest yet, so the group
    * holds no data.
    */
  def liveFiles(attGroup: String): Option[Seq[String]] =
    Some(resolveCurrent(attGroup)).filter(_._1 > 0).map(_._2)

  /** Existing buckets ("symbol=S/timeframe=T", possibly empty of
    * files) per the current manifest — None if no manifest.
    */
  def liveBuckets(attGroup: String): Option[Seq[String]] =
    Some(resolveCurrent(attGroup)).filter(_._1 > 0).map(_._3)

  /** Files referenced by ANY retained manifest version (live + grace-
    * retained); empty if the group has no manifest. Anything on disk
    * outside this set is foreign: a crashed move or an out-of-band
    * write. Coverage without per-version resolution: a file live at
    * retained version v is either in v's base snapshot (itself
    * retained — pruning never drops a needed base) or in some retained
    * delta's "added".
    */
  def referencedFiles(attGroup: String): Set[String] =
    manifestVersions(attGroup).flatMap { v =>
      val node = readManifestNode(attGroup, v)
      arr(node, "files") ++ arr(node, "added") ++ arr(node, "removed")
    }.toSet

  /** Atomic manifest flip with EXCLUSIVE version-slot semantics — the
    * commit-time CAS the lease fence's doc names as the zero-window
    * hook: versions are immutable once published, so the publish is a
    * rename that must FAIL if the destination version already exists.
    * HDFS rename refuses an existing destination; Hadoop's local
    * filesystems overwrite silently (POSIX renameTo), so local roots
    * go through nio's no-REPLACE move, which is atomic and throws on
    * an occupied slot. A zombie writer that slipped past the lease
    * fence therefore loses the version-slot race instead of silently
    * clobbering (or being clobbered by) the live writer's commit.
    */
  private[graft] def publishManifest(
      attGroup: String, v: Long, map: java.util.LinkedHashMap[String, Any]): Unit = {
    val dir = manifestDirPath(attGroup)
    fs.mkdirs(dir)
    // tmp is unique PER ATTEMPT (writer id + nonce), never a shared
    // deterministic name: with a shared `.tmp_<v>` a zombie writer
    // racing the live one could overwrite tmp after the live writer
    // wrote it but before its move, and the slot winner would then
    // atomically publish the LOSER's bytes — the CAS would guarantee
    // slot exclusivity without content integrity. Each contender
    // moves only bytes it wrote itself.
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(dir, s".tmp_${attempt}_${manifestName(v)}")
    val out = fs.create(tmp, true)
    out.write(om.writeValueAsBytes(map))
    out.close()
    val dst = new Path(dir, manifestName(v))
    def dropTmp(): Unit = {
      try fs.delete(tmp, false) catch { case NonFatal(_) => () }
      try fs.delete(new Path(dir, s".${tmp.getName}.crc"), false)
      catch { case NonFatal(_) => () }
    }
    // the slot CAS (and the checksummed-fs .crc-twin carry on a win)
    // is the shared no-overwrite rename (see FsOps.renameNoOverwrite
    // for the per-FileSystem requirements); a storage error with no
    // destination present throws from there — drop the loser tmp
    // before letting it propagate
    val renamed =
      try graft.core.FsOps.renameNoOverwrite(fs, tmp, dst)
      catch { case e: java.io.IOException => dropTmp(); throw e }
    if (!renamed) {
      dropTmp() // the loser's bytes must not linger as a publishable tmp
      throw new IllegalStateException(
        s"could not publish manifest v$v for $attGroup — version slot " +
          "already occupied (a concurrent writer committed it); this " +
          "commit is fenced")
    }
  }

  private def rangesMap(ranges: Map[String, Long]): java.util.LinkedHashMap[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    ranges.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def writeSnapshot(
      attGroup: String, v: Long, files: Seq[String], removed: Seq[String],
      buckets: Seq[String], ranges: Map[String, Long]): Unit = {
    val map = new java.util.LinkedHashMap[String, Any]()
    map.put("version", v)
    map.put("kind", "snapshot")
    map.put("files", files.sorted.asJava)
    map.put("removed", removed.sorted.asJava)
    map.put("buckets", buckets.sorted.asJava)
    map.put("ranges", rangesMap(ranges))
    publishManifest(attGroup, v, map)
    kindCache.put(s"$attGroup#$v", true)
  }

  private def writeDelta(
      attGroup: String, v: Long, added: Seq[String], removed: Seq[String],
      addBuckets: Seq[String], removeBuckets: Seq[String],
      setRanges: Map[String, Long], clearRanges: Seq[String]): Unit = {
    val map = new java.util.LinkedHashMap[String, Any]()
    map.put("version", v)
    map.put("kind", "delta")
    map.put("added", added.sorted.asJava)
    map.put("removed", removed.sorted.asJava)
    map.put("addBuckets", addBuckets.sorted.asJava)
    map.put("removeBuckets", removeBuckets.sorted.asJava)
    map.put("setRanges", rangesMap(setRanges))
    map.put("clearRanges", clearRanges.sorted.asJava)
    publishManifest(attGroup, v, map)
    kindCache.put(s"$attGroup#$v", false)
  }

  /** Flip the group's manifest: every file under a partition in
    * `replacedParts`, and every file in `removedFiles`, leaves the live
    * set; `addedFiles` join it. The flip (a rename) is the commit
    * point; the old snapshot's files stay readable for
    * [[VacuumGraceCommits]] more commits.
    */
  private def commitManifest(
      attGroup: String, replacedParts: Set[String], addedFiles: Seq[String],
      removedFiles: Set[String] = Set.empty,
      addBuckets: Set[String] = Set.empty,
      removeBuckets: Set[String] = Set.empty,
      setRanges: Map[String, Long] = Map.empty,
      clearRanges: Set[String] = Set.empty): Unit = {
    // the manifest flip is the commit point: on lease-guarded roots a
    // superseded writer must be stopped HERE, before its staged files
    // can become visible
    if (!rootIsLocalFs) fenceWriterLease(attGroup)
    val (prevV, prev, prevBuckets, prevRanges) = resolveCurrent(attGroup)
    val (dead, kept) = prev.partition(f =>
      replacedParts.contains(partOf(f)) || removedFiles.contains(f))
    val v = prevV + 1
    val newFiles = kept ++ addedFiles
    val newBuckets = (prevBuckets.toSet ++ addBuckets -- removeBuckets).toSeq
    val newRanges = prevRanges ++ setRanges -- clearRanges
    // snapshot checkpoints at v = 1, 1+E, 1+2E, …; every other commit
    // publishes only its delta — O(changed files) manifest bytes. The
    // delta's addBuckets subtracts already-registered entries: a wide
    // steady-state commit re-touching every symbol would otherwise
    // re-list the whole O(symbols) logical registry in every delta
    if ((v - 1) % ManifestCheckpointEvery == 0)
      writeSnapshot(attGroup, v, newFiles, dead, newBuckets, newRanges)
    else
      writeDelta(attGroup, v, addedFiles, dead,
        (addBuckets -- prevBuckets.toSet).toSeq, removeBuckets.toSeq,
        setRanges, clearRanges.toSeq)
    resolvedCache.put(attGroup, (v, newFiles, newBuckets, newRanges))
    vacuum(attGroup, v)
  }

  /** Make the group's manifest list exactly `files`, `buckets` and
    * `ranges` — a replica publishing its primary's current state
    * ([[ReplicaSync]]). `fetch` lands each listed file the current
    * manifest does not name yet, before the flip; files that leave the
    * live set go through the ordinary vacuum grace. Publishes nothing
    * when the manifest already matches; returns whether it published.
    */
  private[catalog] def adopt(attGroup: String, files: Seq[String], buckets: Seq[String],
      ranges: Map[String, Long])(fetch: Seq[String] => Unit): Boolean =
    mutate(attGroup) {
      val (_, mine, myBuckets, myRanges) = resolveCurrent(attGroup)
      val added = files.filterNot(mine.toSet)
      val gone = mine.toSet -- files
      val differs = added.nonEmpty || gone.nonEmpty ||
        buckets.toSet != myBuckets.toSet || ranges != myRanges
      if (differs) {
        fetch(added)
        commitManifest(attGroup, Set.empty, added,
          removedFiles = gone,
          addBuckets = buckets.toSet -- myBuckets,
          removeBuckets = myBuckets.toSet -- buckets,
          setRanges = ranges.filter { case (p, r) => !myRanges.get(p).contains(r) },
          clearRanges = myRanges.keySet -- ranges.keySet)
      }
      differs
    }

  /** Physically delete the files that left the live set
    * [[VacuumGraceCommits]] commits ago (readers pinned to that
    * snapshot have long finished) and are not live again, prune
    * now-empty partition dirs, and drop manifest versions beyond
    * [[ManifestRetention]]. A file returns to the live set only on a
    * replica, when a sync restores a primary file that a mutation on
    * the replica had replaced.
    */
  private def vacuum(attGroup: String, committed: Long): Unit = {
    val graceV = committed - VacuumGraceCommits
    if (graceV >= 1 && fs.exists(new Path(manifestDirPath(attGroup), manifestName(graceV)))) {
      val live = resolvedCache.get(attGroup)._2.toSet
      val removed = arr(readManifestNode(attGroup, graceV), "removed").filterNot(live)
      val stop = new Path(agPath(attGroup))
      removed.foreach { rel =>
        try {
          val f = new Path(agPath(attGroup), rel)
          if (fs.exists(f)) fs.delete(f, false)
          var parent = f.getParent
          while (parent != null && !parent.equals(stop) &&
              fs.exists(parent) && fs.listStatus(parent).isEmpty) {
            fs.delete(parent, true)
            parent = parent.getParent
          }
        } catch { case NonFatal(e) =>
          log.warn(s"vacuum of $attGroup/$rel failed: ${e.getMessage}")
        }
      }
    }
    // prune manifests past the retention window — but never the
    // snapshot base (or intermediate deltas) the window's oldest
    // version still needs to resolve
    val versions = manifestVersions(attGroup)
    val minRetained = math.max(1L, committed - ManifestRetention + 1)
    val base = versions.filter(v => v <= minRetained && isSnapshotVersion(attGroup, v))
      .maxOption
    base.foreach { b =>
      versions.filter(_ < b).foreach { v =>
        fs.delete(new Path(manifestDirPath(attGroup), manifestName(v)), false)
        kindCache.remove(s"$attGroup#$v")
      }
    }
  }

  /** Stage-and-commit shared by every write path: materialize `df`
    * fully into a staging directory inside the group
    * (`<ag>/.staging_<nanos>`), move each staged file (Spark part file
    * names are job-unique) into its live partition directory, then
    * flip the manifest — see the class doc's snapshot-isolation
    * contract. The staging dir's name has no `=`, so the partition
    * walks never enter it and readers, which open only manifest-listed
    * files, never see it. Writing into a staging dir rather than into
    * the group's partition dirs also keeps Spark's post-write recache,
    * which refreshes every cached plan reading under the output path,
    * off a caller's persisted input over the same group (one Spark job
    * per commit, measured). A mid-move crash
    * leaves unreferenced files and a staging dir that the next
    * [[recoverOrphanedStaging]] sweeps; the live snapshot is
    * never touched until the manifest rename. Partitions in
    * `clearIfUnstaged` that produced no staged output leave the live
    * set (a rewrite that emptied them). `knownRanges` gives the exact
    * new max Epoch of staged partitions whose caller knows it; the
    * others read it from their staged footers.
    */
  private def stageSwap(df: DataFrame, attGroup: String,
      clearIfUnstaged: Seq[String] = Nil,
      logicalBuckets: Set[String] = Set.empty,
      removeBuckets: Set[String] = Set.empty,
      appendParts: Set[String] = Set.empty,
      knownRanges: Map[String, Long] = Map.empty): Unit = {
    val groupDir = agPath(attGroup)
    val staging = new Path(groupDir, s"$StagingPrefix${System.nanoTime()}")
    // repartition on the partition key so the staged write spreads
    // file creation across the executors: without it a dynamic
    // partition write funnels through the input's few tasks and the
    // ~25 ms/file parquet open/close constant serializes. The
    // EXPLICIT partition count matters: AQE coalesces a bare keyed
    // repartition of a small-byte batch back to one partition (row
    // bytes are tiny; the file-count cost AQE can't see is not), and
    // user-numbered repartitions are exempt from coalescing.
    val partitionCols = Seq("timeframe", "year", "sbucket")
    // files keep rows (symbol, Epoch[, Nanoseconds])-sorted: parquet
    // row-group min/max stats on the sorted symbol column are what
    // keeps single-symbol reads skipping inside shared files. The sort
    // leads with the partition columns, so FileFormatWriter sees its
    // required partition ordering already satisfied and inserts no
    // second sort of its own.
    val sortCols = (partitionCols ++ Seq("symbol", Uda.EpochCol) ++
      (if (df.columns.contains(Uda.NanosCol)) Seq(Uda.NanosCol) else Nil))
      .map(col)
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        partitionCols.map(col): _*)
      .sortWithinPartitions(sortCols: _*)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(staging.toString)
    try {
      val stagedParts = scala.collection.mutable.Set[String]()
      val moves = scala.collection.mutable.ArrayBuffer[(String, Path)]()
      walkPartitionFiles(staging).foreach { case (rel, f) =>
        stagedParts += rel
        moves += ((rel, f))
      }
      // per-partition max Epoch — the manifest range registry the
      // append fast path consults. The caller passes the exact new max
      // where it knows one without reading a file (`knownRanges`; see
      // writeMultiTf for why each of its entries is exact). Any other
      // staged partition — a merge partition with files but no range
      // entry, the deleteRange/destroy/trim rewrites —
      // reads it from its staged files' parquet footer stats, exact
      // because those files are the partition's complete new content.
      // A partition records a footer range ONLY when every one of its
      // staged files exposes Epoch stats — one unreadable footer among
      // readable ones would otherwise record an understated max and
      // let a later overlapping batch take the append path (duplicate
      // keys); partially-visible partitions fall into the clearRanges
      // set below, routing their future writes through the safe merge
      val stagedRanges: Map[String, Long] = moves.toSeq
        .groupBy(_._1)
        .flatMap { case (rel, fsOfPart) =>
          knownRanges.get(rel).map(rel -> _).orElse {
            val maxes = fsOfPart.map { case (_, f) => footerMaxEpoch(f) }
            if (maxes.forall(_.isDefined)) Some(rel -> maxes.flatten.max) else None
          }
        }
      // the staged→live moves are independent renames into distinct
      // targets: run them on a bounded pool — serial, the ~7 ms
      // checksummed-rename constant is a minute-plus at the 16k-symbol
      // design target (FileSystem instances are thread-safe; any
      // failure rethrows via Future.get before the manifest flip)
      val movedFiles: Seq[String] = {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(32, Runtime.getRuntime.availableProcessors()))
        try {
          val tasks: Seq[java.util.concurrent.Callable[String]] =
            moves.toSeq.map { case (rel, src) =>
              (() => {
                val targetDir = new Path(groupDir, rel)
                fs.mkdirs(targetDir)
                if (!fs.rename(src, new Path(targetDir, src.getName)))
                  throw new IllegalStateException(
                    s"failed to move staged file ${src.getName} into $targetDir")
                s"$rel/${src.getName}"
              }): java.util.concurrent.Callable[String]
            }
          pool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
        } finally pool.shutdownNow()
      }
      // a rewrite keeps its buckets listed even when it emptied them
      // (trim semantics: the bucket exists with zero rows). Physical
      // partition names carry no symbol, so the logical
      // (symbol, timeframe) registry entries come from the caller.
      commitManifest(attGroup,
        (stagedParts.toSet -- appendParts) ++ clearIfUnstaged,
        movedFiles,
        addBuckets = logicalBuckets,
        removeBuckets = removeBuckets,
        setRanges = stagedRanges,
        // a staged partition with NO readable footer max must DROP
        // its range entry, not keep the stale one — a stale max would
        // let a later overlapping batch take the append path and land
        // duplicate keys silently; no entry routes it to the safe
        // merge, which heals the entry
        clearRanges = (clearIfUnstaged.toSet -- stagedParts) ++
          (stagedParts.toSet -- stagedRanges.keySet))
    } finally fs.delete(staging, true)
  }

  /** Max value of the Epoch column across a parquet file's row-group
    * footer stats — None if the file has no Epoch stats (never the
    * case for catalog-written files; the guard keeps foreign files
    * from failing a commit).
    */
  private def footerMaxEpoch(file: Path): Option[Long] =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(file, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val maxes = r.getFooter.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == Uda.EpochCol)
            .flatMap { c =>
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue) None
              else st.genericGetMax match {
                case l: java.lang.Long => Some(l.longValue())
                case i: java.lang.Integer => Some(i.longValue())
                case _ => None
              }
            }
        }
        maxes.maxOption
      } finally r.close()
    } catch { case NonFatal(_) => None }

  /** Clean up after a crashed writer: in each group, delete its
    * staging dirs and any data file no retained manifest references
    * (a crash between the file moves and the manifest flip leaves
    * such unreferenced files; they were never part of any snapshot).
    * The reference replays and cleans its WAL on startup under its one
    * writer lock (executor/wal.go:29-45); here each group is swept as
    * one mutation of that group — the in-process lock, so a same-JVM
    * commit in flight finishes first, plus the OS lock or the group
    * lease. A group held by a live foreign writer (its lease, or the
    * root's OS lock) is SKIPPED: its staging is that writer's
    * in-flight commit, not an orphan. A group lease taken only for
    * the sweep is handed back (ts = 0). Returns the number of staging
    * directories removed.
    */
  def recoverOrphanedStaging(): Int =
    listAttGroups().map { ag =>
      val hadLease = rootIsLocalFs || BucketCatalog.leases.containsKey(leaseKey(ag))
      try mutate(ag) {
        // the renewal cache is not proof of ownership: a writer stalled
        // past its expiry and superseded could wake with a
        // fresh-looking cache entry and sweep the NEW writer's
        // mid-commit files — so fence against the lease FILE, exactly
        // as commits do, before deleting anything
        if (!rootIsLocalFs) fenceWriterLease(ag)
        // a group with no manifest references nothing: a crash inside
        // its first commit leaves files that are all orphans
        val referenced = referencedFiles(ag)
        dataFilesOnDisk(ag).filterNot(referenced).foreach { rel =>
          try fs.delete(new Path(agPath(ag), rel), false)
          catch { case NonFatal(e) =>
            log.warn(s"orphan sweep of $ag/$rel failed: ${e.getMessage}")
          }
        }
        val staging = fs.listStatus(new Path(agPath(ag))).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(StagingPrefix))
        staging.foreach(s => fs.delete(s.getPath, true))
        staging.size
      } catch { case e: IllegalStateException =>
        log.warn(s"orphan sweep skipping $ag — ${e.getMessage}")
        0
      } finally if (!hadLease)
        try releaseWriterLease(ag) catch { case NonFatal(_) => () }
    }.sum

  // --------------------------------------------------------------- reads

  /** The whole attribute group as one DataFrame (timeframe/year/sbucket
    * partition columns included), resolved through the current
    * manifest snapshot. None ⇒ no data.
    */
  def readGroup(attGroup: String): Option[DataFrame] = readAg(attGroup)

  /** Manifest versions currently readable for a group, oldest first —
    * the time-travel window. Bounded by [[BucketCatalog.ManifestRetention]]
    * manifests on disk; versions older than the vacuum grace may
    * reference already-deleted files (readGroupAt refuses those).
    */
  def manifestVersions(attGroup: String): Seq[Long] = {
    val dir = manifestDirPath(attGroup)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toIndexedSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .flatMap(n => scala.util.Try(n.stripSuffix(".json").toLong).toOption)
      .sorted
  }

  /** Time-travel read: the group exactly as manifest `version` listed
    * it. Valid while the version's files survive — a superseded file
    * lives [[BucketCatalog.VacuumGraceCommits]] commits past its
    * replacement, so the last 1 + grace versions are always readable;
    * older retained manifests may already have vacuumed files, and
    * this refuses them with a clear error instead of failing
    * mid-query. Some(empty) semantics mirror readGroup: None when the
    * version lists no files.
    *
    * The existence check is one recursive partition-dir listing (not a
    * per-file exists RPC) and is BEST-EFFORT against versions already
    * vacuumed when the call is made: a vacuum racing the lazy parquet
    * scan AFTER this check can still fail the query mid-flight — the
    * grace window ([[BucketCatalog.VacuumGraceCommits]]) is what makes
    * that race impossible for readers pinned within it; readers pinned
    * beyond it get the clean refusal on their next readGroupAt.
    */
  def readGroupAt(attGroup: String, version: Long): Option[DataFrame] = {
    val p = new Path(manifestDirPath(attGroup), manifestName(version))
    if (!fs.exists(p))
      throw new IllegalArgumentException(
        s"no manifest v$version for $attGroup (retained: ${manifestVersions(attGroup).mkString(", ")})")
    val files = resolveVersion(attGroup, version)._1
    val onDisk = dataFilesOnDisk(attGroup).toSet
    val missing = files.filterNot(onDisk)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"manifest v$version of $attGroup is beyond the vacuum grace window: " +
          s"${missing.size} of ${files.size} files already deleted (first: ${missing.head})")
    if (files.isEmpty) None
    else Some(readFiles(attGroup, files))
  }

  // DataFrame per (group, manifest version): building a DataFrame over
  // an explicit N-file list pays a file-index listing job (~3 s at the
  // 16k-symbol design target) — a snapshot's file list is immutable,
  // so the frame is reusable until the version advances (one entry per
  // group; a new version replaces the old)
  private val frameCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, DataFrame)]()

  private def readAg(attGroup: String): Option[DataFrame] = {
    val (v, files, _, _) = resolveCurrent(attGroup)
    if (files.isEmpty) None
    else {
      val cached = frameCache.get(attGroup)
      if (cached != null && cached._1 == v) Some(cached._2)
      else {
        val df = readFiles(attGroup, files)
        frameCache.put(attGroup, (v, df))
        Some(df)
      }
    }
  }

  private def readFiles(attGroup: String, files: Seq[String]): DataFrame =
    spark.read.schema(readSchema(attGroup)).option("basePath", agPath(attGroup))
      .parquet(files.map(f => s"${agPath(attGroup)}/$f"): _*)

  /** A group's files as the reader sees them: the data columns every
    * write stores (symbol, the meta's declared columns, Nanoseconds for
    * variable groups) and the typed partition columns. Handed to the
    * reader so Spark infers neither: partition inference reads a group
    * whose only timeframe is `1D` with a double `timeframe`.
    */
  private def readSchema(attGroup: String): StructType = {
    val (variable, declared, _) = readMeta(attGroup)
    val nanos =
      if (variable && !declared.fieldNames.contains(Uda.NanosCol))
        Seq(StructField(Uda.NanosCol, IntegerType))
      else Nil
    StructType(StructField("symbol", StringType) +:
      (declared.fields.toSeq.map(f => StructField(f.name, f.dataType)) ++ nanos ++ Seq(
        StructField("timeframe", StringType), StructField("year", IntegerType),
        StructField("sbucket", IntegerType))))
  }

  private def readAgOrFail(attGroup: String): DataFrame =
    readAg(attGroup).getOrElse(throw new IllegalArgumentException(
      s"no data for attribute group '$attGroup' under $root"))

  // the sbucket partition column is a layout detail — never surfaced
  // to readers (its pruning filters are applied before the drop)
  private def dropLayoutCols(df: DataFrame): DataFrame = df.drop("sbucket")

  /** Partition-pruned scan of ALL symbols of one attGroup/timeframe
    * (symbol column retained) — single scan for wildcard queries and
    * the downsample cascade.
    */
  def readMulti(attGroup: String, timeframe: String): DataFrame =
    dropLayoutCols(readAgOrFail(attGroup).filter(col("timeframe") === timeframe))

  /** Partition-pruned scan of an EXPLICIT symbol list of one
    * attGroup/timeframe: the symbols' sbuckets prune partitions to
    * ≤ |symbols| of the N physical buckets before the pushed symbol
    * predicate skips row groups inside them.
    */
  def readMulti(attGroup: String, timeframe: String, symbols: Seq[String]): DataFrame =
    dropLayoutCols(readSbuckets(attGroup, timeframe, symbols)
      .filter(col("symbol").isin(symbols: _*)))

  /** Like the explicit-list [[readMulti]], but the pushed symbol
    * predicate is the list's RANGE: two row-group stats comparisons,
    * where a pushed `In` over thousands of symbols costs the parquet
    * reader several times the scan itself. Rows of unlisted symbols
    * inside the range come back — the caller owns exact membership
    * (the downsample cascade joins its spans).
    */
  private[graft] def readSymbolRange(attGroup: String, timeframe: String,
      symbols: Seq[String]): DataFrame =
    dropLayoutCols(readSbuckets(attGroup, timeframe, symbols)
      .filter(col("symbol").between(symbols.min, symbols.max)))

  // one timeframe's rows, pruned to the partitions the symbols hash to
  private def readSbuckets(attGroup: String, timeframe: String,
      symbols: Seq[String]): DataFrame = {
    val nb = layoutBuckets(attGroup)
    readAgOrFail(attGroup).filter(col("timeframe") === timeframe)
      .filter(col("sbucket").isin(symbols.map(sbucketOf(_, nb)).distinct: _*))
  }

  /** Partition-pruned scan of one bucket, time-ordered. */
  def read(tbk: TimeBucketKey): DataFrame = {
    val base = readAgOrFail(tbk.attGroup)
    val df = dropLayoutCols(base
      .filter(col("sbucket") === sbucketOf(tbk.symbol, layoutBuckets(tbk.attGroup)))
      .filter(col("symbol") === tbk.symbol && col("timeframe") === tbk.timeframe))
    val ord =
      if (df.columns.contains(Uda.NanosCol)) Seq(col(Uda.EpochCol), col(Uda.NanosCol))
      else Seq(col(Uda.EpochCol))
    df.sortWithinPartitions(ord: _*)
  }

  /** All symbols present for an AttributeGroup
    * (frontend ListSymbols, frontend/query.go:264-288) — resolved from
    * the manifest (grace-retained dead files don't resurface destroyed
    * symbols), no data scan.
    */
  def listSymbols(attGroup: String): Seq[String] =
    resolveCurrent(attGroup)._3.map(_.split("/")(0).stripPrefix("symbol=")).distinct.sorted

  /** Attribute groups present under the catalog root (directory walk,
    * no data scan) — the wire front's ListSymbols/GetInfo enumerate
    * across groups like the reference's catalog descent
    * (catalog/catalog.go:18-116).
    */
  def listAttGroups(): Seq[String] = {
    val p = new Path(root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toIndexedSeq
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, MetaFile)))
      .map(_.getPath.getName).sorted
  }

  /** Most recent year partition of one bucket (GetInfo's LatestYear).
    * Files are shared across symbols, so the answer is a doubly-pruned
    * (sbucket partition + pushed symbol predicate) max-aggregate scan
    * of the symbol's single bucket slice.
    */
  def latestYear(tbk: TimeBucketKey): Option[Int] =
    if (!listTimeframes(tbk.attGroup, tbk.symbol).contains(tbk.timeframe) ||
        readAg(tbk.attGroup).isEmpty) None
    else read(tbk).agg(max(col("year"))).collect().headOption
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))

  def listTimeframes(attGroup: String, symbol: String): Seq[String] =
    resolveCurrent(attGroup)._3.filter(_.startsWith(s"symbol=$symbol/"))
      .map(_.split("/")(1).stripPrefix("timeframe=")).distinct.sorted

  /** symbol → stored timeframes for a WHOLE attGroup in one manifest
    * resolution + one pass over the bucket list. The wildcard query
    * path (QueryService.queryMulti at the reference's ~16k-symbol
    * design point, docs/design/file_format_design.txt) needs every
    * symbol's stored-TF set for the substitution intersection; calling
    * [[listTimeframes]] per symbol is |symbols| manifest version
    * checks × a full bucket-list filter each — O(S²) on the driver.
    */
  def listTimeframesBySymbol(attGroup: String): Map[String, Set[String]] =
    resolveCurrent(attGroup)._3.iterator.map { b =>
      val i = b.indexOf('/')
      (b.substring(0, i).stripPrefix("symbol="),
        b.substring(i + 1).stripPrefix("timeframe="))
    }.toSeq.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap

  /** Drop one symbol/timeframe from a bucket (frontend Destroy,
    * frontend/write.go:182-210). Files are shared across symbols, so
    * the symbol's (timeframe, year, sbucket) slices are REWRITTEN
    * without its rows — bounded by 1/N of the group's years, through
    * the same staged commit as every write.
    */
  def destroy(tbk: TimeBucketKey): Unit = mutate(tbk.attGroup) {
    val rel = s"symbol=${tbk.symbol}/timeframe=${tbk.timeframe}"
    val sb = sbucketOf(tbk.symbol, layoutBuckets(tbk.attGroup))
    val slice = readAg(tbk.attGroup).map(_.filter(
      col("timeframe") === tbk.timeframe && col("sbucket") === sb))
    // years the symbol actually occupies — a small doubly-pruned
    // metadata job bounding the rewrite to the slices that change
    val years = slice.map(_.filter(col("symbol") === tbk.symbol)
      .select("year").distinct().collect().map(_.getInt(0)).toSeq).getOrElse(Nil)
    if (years.isEmpty)
      commitManifest(tbk.attGroup, Set.empty, Nil, removeBuckets = Set(rel))
    else {
      val keep = slice.get.filter(col("year").isin(years: _*))
        .filter(col("symbol") =!= tbk.symbol)
      stageSwap(keep, tbk.attGroup,
        clearIfUnstaged = years.map(y =>
          s"timeframe=${tbk.timeframe}/year=$y/sbucket=$sb"),
        removeBuckets = Set(rel))
    }
  }

  /** Schema + record type for a bucket (GetInfo / GetDataShapes,
    * catalog/catalog.go:347).
    */
  def getInfo(attGroup: String): (StructType, Boolean) = {
    val (variable, schema, _) = readMeta(attGroup)
    (schema, variable)
  }

  /** Delete rows of one bucket inside an inclusive ns-precision epoch
    * range (reference range delete, executor/delete.go:15-130). Only
    * the year partitions the range touches are rewritten, through the
    * same [[stageSwap]] commit as the upsert path (no self-overwrite
    * crash window); partitions left empty leave the live set.
    */
  def deleteRange(
      tbk: TimeBucketKey,
      startEpoch: Long, startNanos: Int = 0,
      endEpoch: Long = Long.MaxValue, endNanos: Int = 999999999): Unit =
    mutate(tbk.attGroup) {
      val existing = readAg(tbk.attGroup).getOrElse(return)
      val e = col(Uda.EpochCol)
      val n = if (existing.columns.contains(Uda.NanosCol)) col(Uda.NanosCol) else lit(0)
      val inRange = e >= startEpoch && e <= endEpoch &&
        !(e === startEpoch && n < startNanos) && !(e === endEpoch && n > endNanos)
      // shared files: rewrite the symbol's (timeframe, year, sbucket)
      // slices keeping every other symbol's rows — the doubly-pruned
      // read bounds the rewrite to 1/N of the touched years
      val sb = sbucketOf(tbk.symbol, layoutBuckets(tbk.attGroup))
      val slice = existing.filter(
        col("timeframe") === tbk.timeframe && col("sbucket") === sb)
      val isMine = col("symbol") === tbk.symbol
      val touchedYears = slice.filter(isMine && inRange)
        .select("year").distinct().collect().map(_.getInt(0))
      if (touchedYears.isEmpty) return
      val keep = slice.filter(col("year").isin(touchedYears.toSeq: _*))
        .filter(!(isMine && inRange))
      stageSwap(keep, tbk.attGroup,
        clearIfUnstaged = touchedYears.toSeq.map(y =>
          s"timeframe=${tbk.timeframe}/year=$y/sbucket=$sb"),
        logicalBuckets = Set(s"symbol=${tbk.symbol}/timeframe=${tbk.timeframe}"))
    }

  /** Zero all data on/after a date (CLI trim,
    * cmd/connect/session/trim.go:15-65).
    */
  def trim(tbk: TimeBucketKey, fromEpoch: Long): Unit =
    deleteRange(tbk, fromEpoch)
}

object BucketCatalog {
  val MetaFile = "_graft_meta.txt"
  /** Symbol buckets per (timeframe, year) for new groups: the per-
    * commit file-count ceiling. Sized O(local cores); a 1000-executor
    * deployment would create groups with a few hundred so commit
    * parallelism and vacuum granularity scale with the cluster, while
    * file count stays decoupled from symbol cardinality.
    */
  val DefaultSymbolBuckets = 32

  /** Append-path file-count ceiling per (timeframe, year, sbucket)
    * partition: forward-ingest commits ADD one file per touched
    * partition (O(batch) commit cost, no rewrite); once a partition
    * reaches this many live files the next write takes the merge path
    * instead, compacting it back to one file per commit task — so
    * per-partition file count is bounded and the rewrite
    * amplification is amortized 1/CompactAtFiles. The LSM trade,
    * sized so a read of a hot partition never opens more than this
    * many smallfiles.
    */
  val CompactAtFiles = 16

  /** crc32(symbol) mod N — the symbol's physical bucket. The driver-
    * side and Column forms are the SAME function (Spark's `crc32` is
    * java.util.zip.CRC32 over the UTF-8 bytes a string→binary cast
    * yields), so read-side pruning always agrees with the write side.
    */
  def symbolBucket(symbol: String, n: Int): Int = {
    val c = new java.util.zip.CRC32()
    c.update(symbol.getBytes("UTF-8"))
    (c.getValue % n).toInt
  }
  val ManifestDir = "_graft_manifest"
  val StagingPrefix = ".staging_"
  /** Commits a superseded file stays on disk after leaving the live
    * set: a read pinned at manifest V is safe until commit
    * V + VacuumGraceCommits + 1 of the same group.
    */
  val VacuumGraceCommits = 2
  /** Manifest versions kept for the recovery sweep / debugging. */
  val ManifestRetention = 8
  /** Commits between full-snapshot manifest checkpoints; the versions
    * in between publish deltas, so per-commit manifest bytes are
    * O(changed files) and a resolve folds at most this many deltas.
    */
  val ManifestCheckpointEvery = 8

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[BucketCatalog])

  // mutation serialization per (root, attGroup) — see the class doc's
  // concurrency contract
  private val writeLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[catalog] def writeLock(root: String, attGroup: String): Object =
    writeLocks.computeIfAbsent(s"$root#$attGroup", _ => new Object)

  /** Name of the per-root cross-process writer lock file. */
  val WriterLockFile = "_graft_writer.lock"

  /** Name of the per-root writer LEASE file (non-local roots, where
    * no byte-range locks exist): JSON {writer, token, ts}.
    */
  val WriterLeaseFile = "_graft_writer.lease"

  /** Default writer-lease expiry: a writer silent this long may be
    * superseded by a contender (which bumps the fencing token).
    */
  val DefaultLeaseExpiryMs = 60000L

  /** One writer identity per JVM — catalogs of one process share the
    * lease, exactly like they share the OS lock on local roots.
    */
  private[catalog] val processWriterId = java.util.UUID.randomUUID().toString

  // per-root held lease: (fencing token, nanoTime of last renewal)
  private val leases =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  // daemon renewer shared by every held lease in the process — one
  // thread, quarter-expiry cadence per root (see startHeartbeat)
  private val leaseScheduler = {
    val s = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-lease-heartbeat"); t.setDaemon(true); t
      })
    s
  }
  private val leaseHeartbeats = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ScheduledFuture[_]]()

  /** Quarter-expiries a held group lease survives with no mutation
    * before the heartbeat hands it back (ts = 0) instead of renewing:
    * 8 quarters = two full expiries of quiet — long enough that a
    * bursty ingest cadence never thrashes release/re-acquire, short
    * enough that a one-shot writer stops fencing the group for its
    * process lifetime.
    */
  val IdleReleaseQuarters = 8L

  // per-lease-key mutation bookkeeping for the heartbeat's idle
  // release: how many mutations are IN FLIGHT (a long Spark commit
  // must never present as idle), and nanoTime of the last mutation
  // start/end
  private val leaseActiveMutations = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()
  private val leaseLastMutation =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[catalog] def noteMutationStart(key: String): Unit = {
    leaseLastMutation.put(key, System.nanoTime())
    leaseActiveMutations
      .computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicInteger)
      .incrementAndGet()
    ()
  }

  private[catalog] def noteMutationEnd(key: String): Unit = {
    leaseLastMutation.put(key, System.nanoTime())
    Option(leaseActiveMutations.get(key)).foreach(_.decrementAndGet())
  }

  /** True iff the key has no mutation in flight and the last one ended
    * more than `idleMs` ago. A key with NO bookkeeping (no mutation
    * has ended on it yet) is never idle-released.
    */
  private[catalog] def idleBeyond(key: String, idleMs: Long): Boolean = {
    val active = Option(leaseActiveMutations.get(key)).exists(_.get > 0)
    !active && Option(leaseLastMutation.get(key)).exists(l =>
      System.nanoTime() - l > idleMs * 1000000L)
  }

  // per-canonical-lock-path acquired state: the FileLock (held for
  // the JVM's life). A FAILED acquisition stores nothing, so the next
  // mutation retries — a root whose foreign writer exited becomes
  // writable without a restart. Keyed by the NORMALIZED lock-file
  // path, not the raw root string: two same-JVM catalogs addressing
  // one directory via different spellings ("/x" vs "file:/x" vs
  // "/x/") must share the entry, or the second's tryLock would see
  // this JVM's own lock and misreport a foreign writer forever.
  private val processLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.channels.FileLock]()

  private[catalog] def acquireProcessLock(root: String, isLocalFs: Boolean): Unit = {
    if (!isLocalFs) return // no byte-range locks off local disks
    val uri = new Path(root).toUri
    val dir = java.nio.file.Paths.get(
      Option(uri.getPath).filter(_.nonEmpty).getOrElse(root))
    java.nio.file.Files.createDirectories(dir)
    val lockPath = dir.resolve(WriterLockFile).toAbsolutePath.normalize()
    processLocks.computeIfAbsent(lockPath.toString, _ => {
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lock =
        try ch.tryLock()
        catch {
          // an overlapping lock from ANOTHER channel in this JVM is a
          // foreign writer for our purposes too (catalog instances of
          // this JVM share the map entry and never reach here twice)
          case _: java.nio.channels.OverlappingFileLockException => null
          case NonFatal(e) => ch.close(); throw e // no fd leak on odd filesystems
        }
      if (lock == null) {
        ch.close()
        throw new IllegalStateException(
          s"another writer process holds $root (${WriterLockFile} is locked); " +
            "the catalog contract is a single writer per root — point this " +
            "writer at its own root or stop the other process")
      }
      lock
    })
    ()
  }
}
