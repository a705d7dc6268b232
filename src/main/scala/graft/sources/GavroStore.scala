package graft.sources

/** The storage contract gavro's COORDINATION model rides on — every
  * primitive the commit log, maintenance lock, optimize swap, and vacuum
  * grace depend on, named and scoped in one place instead of spread as
  * raw `java.nio.file` calls across the maintenance paths.
  *
  * Why a seam: the local-FS implementation realizes put-if-absent as a
  * hard link from a staged temp file, atomic replace as `ATOMIC_MOVE`,
  * and staleness/grace as `lastModified` — none of which exist in this
  * form on the object stores a 100 TB deployment actually uses (S3/GCS
  * have conditional PUT / `x-goog-if-generation-match`, no mtime-touch,
  * no hard links). Porting gavro there is meant to be a NEW [[GavroStore]]
  * implementation passing the same contract spec
  * (GavroStoreContractSpec), not a rewrite of 2,400 lines of protocol.
  *
  * The contract each implementation must honor (the properties the
  * protocol's safety arguments cite, pinned by the spec):
  *
  *   - '''putIfAbsent''' publishes `content` under `dst` atomically and
  *     FAILS with [[java.nio.file.FileAlreadyExistsException]] when `dst`
  *     exists — the loser of a commit-record or sidecar race errs loudly,
  *     never silently replaces. A reader never observes a partially
  *     written object (create-with-content is one atomic visibility
  *     event).
  *   - '''atomicReplace''' swaps `dst` to `content` with no window in
  *     which `dst` is missing or partial — checkpoint folds rely on
  *     readers seeing either the old content or the new, never absence.
  *   - '''publishIfAbsent''' is putIfAbsent for a LARGE already-staged
  *     blob (the optimize merge output, a writer task's finished part
  *     file): returns false instead of throwing when `dst` exists,
  *     because the caller's allocate-retry loop treats a taken name as
  *     "pick the next index", not an error. NOTE — the one deliberate
  *     coupling point between the planes: the staged blob was written
  *     through the paired [[GavroDataStore]], so this method must be
  *     able to READ objects that data store staged (trivially true when
  *     one backend serves both planes, as on local FS, in the InMemory
  *     test pair, and on any object store where staging IS an upload;
  *     a deployment mixing two unrelated backends must bridge staging
  *     or it fails loudly here at the first publish).
  *   - '''createMarkerIfAbsent''' is putIfAbsent of an empty object (the
  *     maintenance lock).
  *   - '''touch'''/'''mtime''' give maintenance-lock staleness and the
  *     vacuum retention grace a clock: touch moves `f`'s timestamp to
  *     now; mtime reads it. (An object-store impl keeps these in object
  *     metadata or a manifest — the contract is monotone-after-touch,
  *     not POSIX mtime.)
  *   - '''list''' returns the CURRENT children of a directory/prefix;
  *     after putIfAbsent/atomicReplace return, the object is visible to
  *     list and read (read-after-write, which S3 provides since 2020).
  *   - '''delete''' is idempotent-ish: deleting a missing object is not
  *     an error (returns false); [[Gavro.retireRecords]] double-checks
  *     `exists` after a failed delete before declaring corruption.
  *   - '''read''' returns the exact lines putIfAbsent/atomicReplace
  *     published (no torn reads).
  *
  * Scope: this seam covers the METADATA/COORDINATION plane (the
  * `_graft_commits` log, locks, sidecars, grace-window touches, vacuum
  * deletes, merged-output publish). Data-plane byte I/O — task-side
  * `.gavro` writes and block-range scan reads — rides the companion
  * [[GavroDataStore]] seam. Keys are expressed as [[java.io.File]]
  * paths; an object-store impl treats them as opaque keys.
  */
trait GavroStore {
  /** Atomically publish `content` under `dst`; throw
    * [[java.nio.file.FileAlreadyExistsException]] if `dst` exists. */
  def putIfAbsent(dst: java.io.File, content: String): Unit

  /** Atomically replace (or create) `dst` with `content` — readers see
    * old or new, never absence or a torn object. */
  def atomicReplace(dst: java.io.File, content: String): Unit

  /** Publish the staged blob `staged` under `dst` iff absent; true on
    * success, false when `dst` already exists. `staged` is left in
    * place either way (the caller owns its cleanup). */
  def publishIfAbsent(staged: java.io.File, dst: java.io.File): Boolean

  /** Create an empty marker object iff absent (the maintenance lock);
    * throws [[java.nio.file.FileAlreadyExistsException]] when taken. */
  def createMarkerIfAbsent(dst: java.io.File): Unit

  /** Move `f`'s timestamp to now (lock keep-alive, vacuum-grace reset). */
  def touch(f: java.io.File): Unit

  /** `f`'s last-modified timestamp, epoch millis. */
  def mtime(f: java.io.File): Long

  /** Current children of `dir` (empty when absent). */
  def list(dir: java.io.File): Seq[java.io.File]

  /** Delete `f`; false when it did not exist or could not be removed
    * (callers that must distinguish re-check [[exists]]). */
  def delete(f: java.io.File): Boolean

  def exists(f: java.io.File): Boolean

  /** The non-empty lines of a small published object. */
  def read(f: java.io.File): Seq[String]
}

/** The DATA-plane storage contract — the byte-stream half the
  * coordination seam ([[GavroStore]]) deliberately leaves out: task-side
  * `.gavro` part-file writes, footer parses, block-range scan reads, and
  * the optimize merge's raw section copy. Scoped to exactly what those
  * paths need (create / positioned open / length / delete / list), so a
  * 100 TB port swaps in the Hadoop FileSystem API (or a raw object-store
  * client) here without touching the commit protocol riding the other
  * seam.
  *
  * The contract each implementation must honor (pinned by
  * GavroDataStoreContract):
  *
  *   - '''create''' opens a NEW data object for writing; the stream's
  *     `close()` is the durability point — after close, `length`,
  *     `openAt`, and `list` observe the complete object. BEFORE close,
  *     readers may observe a byte prefix (local FS) or nothing at all
  *     (object-store multipart upload); gavro's footer contract absorbs
  *     both (a footer-less or short file reads as one unsplittable
  *     block, and commit-log visibility hides in-flight files from
  *     readers anyway).
  *   - '''openAt''' reads from `offset` to EOF; the bytes returned are
  *     exactly the bytes `create` wrote (no torn mid-object reads after
  *     close). Reading a missing object throws.
  *   - '''length''' is the object's size (0 when absent);
  *     '''list'''/'''delete''' as on the coordination seam: current-state
  *     listing, idempotent-ish delete.
  *
  * Performance note: implementations are called from executor tasks —
  * one `create` per writer task, one `openAt` per planned partition, a
  * bounded number of `openAt`s per footer parse. No implementation may
  * require driver-side coordination on these paths. */
trait GavroDataStore {
  /** Open a new data object; close() is the visibility/durability point. */
  def create(f: java.io.File): java.io.OutputStream

  /** Positioned read from `offset` to end-of-object; throws on a missing
    * object. */
  def openAt(f: java.io.File, offset: Long): java.io.InputStream

  /** Object size in bytes (0 when absent — callers that must distinguish
    * check [[list]] or attempt [[openAt]]). */
  def length(f: java.io.File): Long

  /** Delete `f`; false when it did not exist or could not be removed. */
  def delete(f: java.io.File): Boolean

  /** Current children of `dir`/prefix (empty when absent). */
  def list(dir: java.io.File): Seq[java.io.File]

  /** The data plane's staleness/grace clock, mirroring the coordination
    * seam's: [[graft.sources.Gavro.vacuum]]'s retention grace and the
    * optimize retire's re-touch operate on DATA objects, so their clock
    * must live on THIS plane (an object-store impl keeps it in object
    * metadata; the contract is monotone-after-touch, not POSIX mtime). */
  def mtime(f: java.io.File): Long

  /** Move `f`'s clock to now (vacuum-grace reset on retired files). */
  def touch(f: java.io.File): Unit

  /** Exactly `len` bytes starting at `start` — the footer-parse
    * convenience; loud on truncation. */
  final def readRange(f: java.io.File, start: Long, len: Int): Array[Byte] = {
    val in = openAt(f, start)
    try {
      val b = new Array[Byte](len)
      var off = 0
      while (off < len) {
        val n = in.read(b, off, len - off)
        require(n > 0, s"gavro: truncated read of $f at byte ${start + off}")
        off += n
      }
      b
    } finally in.close()
  }
}

/** The bare-filesystem realization (this sandbox, NFS-free local disks):
  * put-if-absent = hard link from a fully-written temp (atomic
  * create-with-content on POSIX), atomic replace = `ATOMIC_MOVE` +
  * `REPLACE_EXISTING`, timestamps = `lastModified`. */
object LocalFsStore extends GavroStore {
  private def staged(dst: java.io.File, content: String): java.io.File = {
    val tmp = java.io.File.createTempFile(s".${dst.getName}", ".tmp",
      dst.getParentFile)
    java.nio.file.Files.writeString(tmp.toPath, content)
    tmp
  }

  override def putIfAbsent(dst: java.io.File, content: String): Unit = {
    val tmp = staged(dst, content)
    try java.nio.file.Files.createLink(dst.toPath, tmp.toPath)
    finally tmp.delete()
  }

  override def atomicReplace(dst: java.io.File, content: String): Unit = {
    val tmp = staged(dst, content)
    java.nio.file.Files.move(tmp.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  override def publishIfAbsent(staged: java.io.File,
      dst: java.io.File): Boolean =
    try { java.nio.file.Files.createLink(dst.toPath, staged.toPath); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }

  override def createMarkerIfAbsent(dst: java.io.File): Unit =
    java.nio.file.Files.createFile(dst.toPath)

  override def touch(f: java.io.File): Unit =
    f.setLastModified(System.currentTimeMillis())

  override def mtime(f: java.io.File): Long = f.lastModified()

  override def list(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)

  override def delete(f: java.io.File): Boolean = f.delete()

  override def exists(f: java.io.File): Boolean = f.exists()

  override def read(f: java.io.File): Seq[String] =
    java.nio.file.Files.readAllLines(f.toPath)
      .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
}

/** Data plane on the bare filesystem: buffered streams and positioned
  * channel reads — the exact I/O gavro ran before the seam existed, now
  * named. */
object LocalFsDataStore extends GavroDataStore {
  override def create(f: java.io.File): java.io.OutputStream =
    new java.io.BufferedOutputStream(new java.io.FileOutputStream(f))

  override def openAt(f: java.io.File,
      offset: Long): java.io.InputStream = {
    val in = new java.io.FileInputStream(f)
    try { if (offset > 0) in.getChannel.position(offset); in }
    catch { case e: Throwable => in.close(); throw e }
  }

  override def length(f: java.io.File): Long = f.length()

  override def delete(f: java.io.File): Boolean = f.delete()

  override def list(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)

  override def mtime(f: java.io.File): Long = f.lastModified()

  override def touch(f: java.io.File): Unit =
    f.setLastModified(System.currentTimeMillis())
}
