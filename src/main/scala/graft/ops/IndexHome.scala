package graft.ops

import org.apache.spark.sql.SparkSession

import graft.sources.{Gavro, GavroStore}

/** The shared publication machinery every MATERIALIZED index rides
  * ([[IvfPqIndex]], [[LshIndex]]): an explicit configurable root, a
  * content-derived cache key with zero timestamps, and a build→publish
  * protocol expressed in [[GavroStore]] coordination primitives so it
  * survives object-store semantics.
  *
  *   - Root: `spark.graft.ann.indexRoot` / env `SPARK_GRAFT_ANN_ROOT`,
  *     default a per-user tmpdir subdirectory (a cluster deployment sets
  *     an explicit shared path so driver and executors read one copy).
  *   - Key: `<prefix><source fingerprint>` — the prefix pins code
  *     version + index kind + source dir; the fingerprint is derived
  *     from CONTENT (a gavro source's commit log, or a parquet source's
  *     per-part name+length+head/tail digests — the parquet footer lives
  *     in the tail, so regenerated data always re-keys). No mtimes:
  *     object stores have no trustworthy ones.
  *   - Publish: a build lands in its own `builds/<id>/` staging tree and
  *     becomes canonical via a put-if-absent `_LIVE` pointer naming the
  *     winner — no directory rename anywhere. Builds are deterministic,
  *     so the loser of the pointer race deletes its bit-identical tree
  *     and reads the winner's.
  *   - Prune: superseded keys (same prefix, different digest) are
  *     reclaimed after a configurable grace
  *     (`spark.graft.ann.pruneGraceMs`, default 1 h) — cache hygiene,
  *     never correctness (a pruned live index just rebuilds).
  */
private[graft] object IndexHome {

  private def store: GavroStore = Gavro.store

  /** Parquet-source digest memo: absolute source path → (cheap listing
    * signature, full digest). The cheap signature is the recursive
    * (relative path, byte length) listing — NO byte reads — so the
    * steady-state cost of key resolution (every probe/search call on a
    * long-lived serve JVM) is one directory walk; the head+tail byte
    * digest runs only when the listing changes, which is the regenerated-
    * source case the unmemoized r12 design paid every call to catch.
    * Documented weakening: an in-place rewrite that preserves every
    * part's name AND byte length evades the cheap check within one JVM —
    * parquet regeneration virtually never does (the footer's row-group
    * offsets/stats shift lengths), and a fresh JVM always digests. */
  private val parquetMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Vector[(String, Long)], String)]()

  /** Part files fully byte-digested since JVM start — observability for
    * the amortization contract (O(parts) once, O(0 byte reads) after). */
  private[graft] val digestedParts = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def resetFingerprintMemo(): Unit = parquetMemo.clear()

  def indexRoot(spark: SparkSession): java.io.File = {
    val configured = spark.conf.getOption("spark.graft.ann.indexRoot")
      .orElse(sys.env.get("SPARK_GRAFT_ANN_ROOT"))
    val root = configured.map(new java.io.File(_)).getOrElse(
      new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft-ann-" + System.getProperty("user.name", "anon")))
    root.mkdirs()
    root
  }

  private def pruneGraceMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.ann.pruneGraceMs")
      .map(_.toLong).getOrElse(60L * 60 * 1000)

  def sha256Hex(s: String, bytes: Int): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(bytes).map(b => f"$b%02x").mkString

  /** Content-derived fingerprint of an index source — NO timestamps.
    * Gavro source: the commit log's entry names and bodies (commit ids
    * are the table's durable identity; the log is write-once so this
    * read is cheap and stays unmemoized). Parquet source: per part,
    * name + length + sha-256 of the first and last 64 KiB — byte reads
    * amortized behind [[parquetMemo]]'s name+length revalidation, so a
    * long-lived serve JVM pays the digest once per source GENERATION:
    * a regenerated source changes the listing signature, misses the
    * memo, and re-keys exactly as the always-digest design did. */
  def sourceFingerprint(src: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def update(s: String): Unit = md.update(s.getBytes("UTF-8"))
    val commits = new java.io.File(src, Gavro.CommitsDir)
    if (commits.isDirectory) {
      // ONLY the durable log entries (.commit/.checkpoint) participate:
      // transient maintenance objects (_optimize.lock, .retire sidecars)
      // would make the key FLAP while maintenance runs on the source
      // table — a spurious re-key and a duplicate full build for
      // unchanged content. (An optimize still re-keys: it rewrites the
      // checkpoint set. Conservative — content is unchanged but the
      // snapshot's durable identity is not.)
      store.list(commits)
        .filter(f => f.getName.endsWith(".commit") ||
          f.getName.endsWith(".checkpoint"))
        .sortBy(_.getName).foreach { f =>
          update(f.getName + " ")
          store.read(f).foreach(l => update(l + "\n"))
        }
    } else {
      // Recurse: a partitioned layout (label=0/part-*.parquet) lists
      // DIRECTORY children, which must contribute their files — not be
      // opened as files (RandomAccessFile on a dir throws).
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          store.list(f).sortBy(_.getName)
            .filterNot(_.getName.startsWith(".")).flatMap(walk)
        else Seq(f)
      val parts: Seq[java.io.File] = walk(src)
      val prefix = src.getAbsolutePath
      // Cheap revalidation first: (relative name, length) per part, no
      // byte reads. A hit returns the memoized digest — the listing walk
      // is the whole steady-state cost of key resolution.
      val cheap: Vector[(String, Long)] = parts.iterator
        .map(f => (f.getAbsolutePath.stripPrefix(prefix), f.length())).toVector
      val memoKey = src.getAbsolutePath
      Option(parquetMemo.get(memoKey)).filter(_._1 == cheap) match {
        case Some((_, digest)) => return digest
        case None => ()
      }
      val buf = new Array[Byte](64 * 1024)
      parts.foreach { f =>
        digestedParts.incrementAndGet()
        update(s"${f.getAbsolutePath.stripPrefix(prefix)}:${f.length()}:")
        val raf = new java.io.RandomAccessFile(f, "r")
        // full-read loops: a single read() may legally return short
        // (network FS), and a short read would silently change the
        // digest — a spurious re-key and a duplicate index build.
        def digestFully(limit: Long): Unit = {
          var remaining = limit
          while (remaining > 0) {
            val n = raf.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
            if (n <= 0) return
            md.update(buf, 0, n); remaining -= n
          }
        }
        try {
          digestFully(math.min(f.length(), buf.length.toLong))
          val tailStart = math.max(f.length() - buf.length, 0L)
          raf.seek(tailStart)
          digestFully(f.length() - tailStart)
        } finally raf.close()
      }
      val digest = md.digest().take(12).map(b => f"$b%02x").mkString
      parquetMemo.put(memoKey, (cheap, digest))
      return digest
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** The key directory for `src` under `prefix` (version + kind + source
    * scope — [[pruneStale]] reclaims only same-prefix siblings). The
    * fingerprint is recomputed on every resolution (see
    * [[sourceFingerprint]]'s cost note) so in-JVM source regeneration
    * re-keys instead of silently reusing a stale index. */
  def keyDir(spark: SparkSession, src: java.io.File,
      prefix: String): java.io.File =
    new java.io.File(indexRoot(spark), prefix + sourceFingerprint(src))

  private def liveMarker(key: java.io.File) = new java.io.File(key, "_LIVE")

  /** The published build under `key`, if any: `_LIVE` names the winning
    * build id; the pointed-to tree is complete by protocol (the pointer
    * lands only after every table committed). */
  def resolveLive(key: java.io.File): Option[java.io.File] =
    if (store.exists(liveMarker(key)))
      store.read(liveMarker(key)).headOption
        .map(id => new java.io.File(new java.io.File(key, "builds"), id))
    else None

  /** Publish `buildId` as `key`'s canonical build via put-if-absent on
    * the `_LIVE` pointer. Returns the canonical build dir — the caller's
    * own on a win; on a lost race the caller's staging tree is deleted
    * (its content is bit-identical by build determinism) and the
    * winner's tree returned. */
  def publish(key: java.io.File, buildId: String): java.io.File = {
    val mine = new java.io.File(new java.io.File(key, "builds"), buildId)
    try { store.putIfAbsent(liveMarker(key), buildId); mine }
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val winner = resolveLive(key).get
        if (winner.getAbsolutePath != mine.getAbsolutePath) deleteRec(mine)
        winner
    }
  }

  def newBuildDir(key: java.io.File): (String, java.io.File) = {
    val id = "b" + java.util.UUID.randomUUID().toString.take(12)
    val d = new java.io.File(new java.io.File(key, "builds"), id)
    d.mkdirs()
    (id, d)
  }

  /** The fingerprint-keyed cache would otherwise orphan one full index
    * copy per source regeneration: before building fresh, drop sibling
    * KEY dirs of the same prefix with a different digest. The grace
    * window protects a query still scanning a just-superseded index and
    * any straggling builder of one. */
  def pruneStale(spark: SparkSession, current: java.io.File,
      prefix: String): Unit = {
    val grace = pruneGraceMs(spark)
    store.list(current.getParentFile)
      .filter(f => f.getName.startsWith(prefix) &&
        f.getName != current.getName &&
        System.currentTimeMillis() - newestMtime(f) > grace)
      .foreach(deleteRec)
  }

  /** Newest mtime in a key tree — local-FS staleness only. Pruning is
    * cache HYGIENE (never correctness), so this one mtime use stays; an
    * object-store deployment replaces it with its own lifecycle policy
    * on the explicit root. */
  private def newestMtime(f: java.io.File): Long =
    (store.mtime(f) +: store.list(f).map(newestMtime)).max

  private def deleteRec(f: java.io.File): Unit = {
    store.list(f).foreach(deleteRec)
    store.delete(f)
    ()
  }

  /** The standard cold-path composition: return the live build for
    * (`src`, `prefix`), or prune stale siblings, run `build` into a
    * fresh staging dir, and publish it. */
  def ensureBuilt(spark: SparkSession, src: java.io.File, prefix: String)(
      build: String => Unit): String = {
    val key = keyDir(spark, src, prefix)
    resolveLive(key).getOrElse {
      pruneStale(spark, key, prefix)
      pruneOrphanBuilds(spark, key)
      val (id, dir) = newBuildDir(key)
      // A build that throws must not strand its partial staging tree —
      // nothing else under the LIVE key is ever reclaimed.
      try build(dir.getAbsolutePath)
      catch { case e: Throwable => deleteRec(dir); throw e }
      publish(key, id)
    }.getAbsolutePath
  }

  /** The forced-rebuild variant of [[ensureBuilt]] (the `*_build_index`
    * oracle queries): ALWAYS build fresh — the oracle must verify a
    * from-scratch artifact — then publish if no canonical build exists;
    * a lost race reads the canonical copy (bit-identical content by
    * build determinism). Same crash cleanup and orphan pruning as the
    * ensure path, in ONE place. Returns the live build dir. */
  def rebuildAndPublish(spark: SparkSession, src: java.io.File,
      prefix: String)(build: String => Unit): java.io.File = {
    val key = keyDir(spark, src, prefix)
    if (resolveLive(key).isEmpty) pruneStale(spark, key, prefix)
    pruneOrphanBuilds(spark, key)
    val (id, dir) = newBuildDir(key)
    try build(dir.getAbsolutePath)
    catch { case e: Throwable => deleteRec(dir); throw e }
    publish(key, id)
  }

  /** Reclaim builds under `key` that are not (or never became) the live
    * one once they age past the grace window — the kill-9/crash case the
    * exception path above cannot cover, and summary-query losers whose
    * delete itself crashed. Live build untouched; grace protects an
    * in-flight builder. */
  def pruneOrphanBuilds(spark: SparkSession, key: java.io.File): Unit = {
    val grace = pruneGraceMs(spark)
    val live = resolveLive(key).map(_.getName).toSet
    store.list(new java.io.File(key, "builds"))
      .filter(b => !live(b.getName) &&
        System.currentTimeMillis() - newestMtime(b) > grace)
      .foreach(deleteRec)
  }
}
