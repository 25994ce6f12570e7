package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared filesystem commit primitive for every slot publisher in the
  * engine — the catalog's manifest version slots
  * ([[graft.catalog.BucketCatalog]]) and the IVF index's generation
  * slots ([[graft.streaming.IvfIndexTrigger]]). One definition so the
  * no-overwrite requirement is stated (and audited) in exactly one
  * place.
  */
object FsOps {

  /** Atomic NO-OVERWRITE rename — the slot CAS every publisher builds
    * on. Returns true iff this call moved `src` into a
    * previously-empty `dst`; false when the destination already
    * existed (the caller lost the slot; its bytes at `src` are left
    * untouched for the caller to clean up).
    *
    * Hadoop's LOCAL filesystems implement rename as POSIX renameTo,
    * which silently OVERWRITES an existing destination — local paths
    * therefore go through nio's Files.move WITHOUT REPLACE_EXISTING
    * (atomic, refuses an occupied slot). Everything else relies on the
    * FileSystem's rename refusing an existing destination, which HDFS
    * guarantees; object-store connectors whose rename overwrites must
    * be fronted by a rename-no-overwrite layer for the slot guarantee
    * to hold — the exists probes around the rename only narrow that
    * window, they cannot close it.
    *
    * A rename that fails with NO destination present is an
    * infrastructure error (permissions, transient IO), not a slot
    * conflict, and throws rather than masquerading as a lost race —
    * a caller treating it as "lost" would silently drop a commit.
    */
  def renameNoOverwrite(fs: FileSystem, src: Path, dst: Path): Boolean = fs match {
    case _: org.apache.hadoop.fs.RawLocalFileSystem |
         _: org.apache.hadoop.fs.ChecksumFileSystem =>
      try {
        java.nio.file.Files.move( // atomic; throws if the slot is taken
          java.nio.file.Paths.get(src.toUri.getPath),
          java.nio.file.Paths.get(dst.toUri.getPath))
        // a ChecksumFileSystem shadowed src with a `.name.crc` twin
        // the nio move does not carry: bring it to the destination
        // name here, in the ONE shared helper, so no slot publisher
        // leaks an orphaned dotfile per commit (advisory — readers
        // tolerate its absence; directory moves have no twin and the
        // inner move just no-ops on NoSuchFile)
        if (fs.isInstanceOf[org.apache.hadoop.fs.ChecksumFileSystem])
          try java.nio.file.Files.move(
            java.nio.file.Paths.get(
              new Path(src.getParent, s".${src.getName}.crc").toUri.getPath),
            java.nio.file.Paths.get(
              new Path(dst.getParent, s".${dst.getName}.crc").toUri.getPath),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          catch { case scala.util.control.NonFatal(_) => () }
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // a DIRECTORY move onto an occupied slot surfaces as
        // DirectoryNotEmpty on some platforms instead
        case _: java.nio.file.DirectoryNotEmptyException => false
      }
    case _ =>
      if (fs.exists(dst)) false
      else if (fs.rename(src, dst)) true
      else if (fs.exists(dst)) false // lost the race inside the rename
      else throw new java.io.IOException(
        s"rename $src -> $dst failed but the destination does not " +
          "exist — storage error (permissions/transient IO), not a " +
          "slot conflict; the commit was NOT published")
  }

  /** Atomic create-if-absent with the strongest primitive the
    * FileSystem offers: HDFS/object-store creates with
    * overwrite=false are exclusive server-side; Hadoop's LOCAL
    * filesystems implement them as a check-then-act pair, so local
    * paths go through nio's O_EXCL createFile instead. Returns false
    * when the path already exists (the caller lost the slot).
    *
    * Only an ALREADY-EXISTS failure is a lost slot. Any other error
    * (permissions, transient IO, a write failure after the create)
    * propagates — the same discipline as [[renameNoOverwrite]]: a
    * caller treating an infrastructure error as "lost the race" would
    * silently no-op a compaction or misdiagnose a refresh abort as
    * "another publisher holds the seal".
    */
  def createExclusive(fs: FileSystem, p: Path, body: String): Boolean = {
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    fs match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem |
           _: org.apache.hadoop.fs.ChecksumFileSystem =>
        val local = java.nio.file.Paths.get(p.toUri.getPath)
        val created =
          try { java.nio.file.Files.createFile(local); true } // O_EXCL — atomic on POSIX
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
        if (!created) false
        else {
          try java.nio.file.Files.write(local, bytes)
          catch {
            case e: Throwable =>
              // don't leave a TORN (empty) slot occupying the CAS: a
              // wedged protocol file (e.g. an unparseable seal) is
              // strictly worse than the surfaced write failure
              try java.nio.file.Files.deleteIfExists(local)
              catch { case scala.util.control.NonFatal(_) => () }
              throw e
          }
          true
        }
      case _ =>
        val out =
          try fs.create(p, false)
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                 _: java.nio.file.FileAlreadyExistsException => return false
            // some connectors surface occupied-slot as a bare
            // IOException; only map it to "lost" when the slot is
            // demonstrably taken — everything else is a storage error.
            // The probe itself runs against a store that just failed:
            // wrap it so a second failure inside the match guard can't
            // replace the original create error with an unrelated
            // exists-probe error (a thrown guard propagates)
            case _: java.io.IOException
                if scala.util.Try(fs.exists(p)).getOrElse(false) =>
              return false
          }
        try { try out.write(bytes) finally out.close() }
        catch {
          case e: Throwable =>
            // the create won the slot but the body never landed: clean
            // the torn file up before surfacing, or the half-created
            // slot wedges every later contender (they'd read an empty
            // protocol file forever)
            try fs.delete(p, false)
            catch { case scala.util.control.NonFatal(_) => () }
            throw e
        }
        true
    }
  }
}
