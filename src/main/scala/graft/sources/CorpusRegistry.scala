package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}

/** Staleness-guarded build-once registry for corpus-derived artifacts
  * (search indexes, persisted edge aggregates, generated fixtures).
  *
  * The r11 registries were keyed by directory string alone and
  * assumed corpora immutable for the process lifetime — correct under
  * the bench/oracle contract, but a long-lived serving session
  * pointed at a REFRESHED directory silently kept answering from the
  * stale artifact. Every lookup here also compares a cheap content
  * signature of the corpus path (file count + total length + max
  * modification time, one recursive listing, no data read — the
  * ZOrderedCorpus (dir, numFiles) pattern generalized); a changed
  * signature evicts the stale entry (running its release hook, e.g.
  * `unpersist`) and rebuilds. Lookups on an unchanged corpus stay
  * O(listing).
  *
  * Scale note: on an object store a recursive listing of a huge
  * corpus costs RPCs — and per-QUERY listing is latency and money. A
  * serving deployment sets [[CorpusRegistry.signatureTtlMs]] (or
  * `-Dgraft.signature.ttl.ms=...`) to amortize: within the window the
  * memoized signature answers without touching the filesystem, so
  * staleness detection costs one LIST per window per corpus instead
  * of one per lookup. The default TTL is 0 — every lookup re-lists —
  * which is what the correctness suite and any strict-freshness
  * deployment want. Writers that mutate a corpus through our own
  * paths call [[CorpusRegistry.invalidateSignature]] so their next
  * read re-lists immediately even inside a window.
  */
final class CorpusRegistry[V](onEvict: V => Unit) {

  /** key -> (corpus signature at build time, artifact). */
  private val entries =
    scala.collection.mutable.Map.empty[String, (String, V)]

  /** The artifact for `dir` (plus an optional variant discriminator
    * for registries holding several artifacts per corpus), rebuilt
    * via `build` when absent OR when the corpus signature changed
    * since the cached build. */
  def get(dir: String, variant: String = "")(build: => V): V =
    synchronized {
      val key = if (variant.isEmpty) dir else s"$dir#$variant"
      val tag = CorpusRegistry.signature(dir)
      entries.get(key) match {
        case Some((t, v)) if t == tag => v
        case prev =>
          prev.foreach { case (_, v) => onEvict(v) }
          val v = build
          entries(key) = (tag, v)
          v
      }
    }

  /** Atomically refresh the artifact for `dir` after a write through
    * OUR OWN paths (the DSv2 append): when the cached entry was built
    * at `preTag` — i.e. it described the corpus exactly as it stood
    * before the write — replace it with `update(old)` keyed at
    * `postTag`, so the next lookup serves the incrementally-updated
    * artifact instead of evicting and rebuilding from scratch. The
    * release hook is NOT run on the old artifact: `update` is
    * expected to take ownership (an incrementally-merged index keeps
    * the base as a parent). Returns false — and touches nothing —
    * when no entry exists or the entry pre-dates some OTHER mutation
    * (then the ordinary signature check forces the safe full
    * rebuild). */
  def refreshIfCurrent(dir: String, variant: String, preTag: String,
      postTag: String)(update: V => V): Boolean = synchronized {
    val key = if (variant.isEmpty) dir else s"$dir#$variant"
    entries.get(key) match {
      case Some((t, v)) if t == preTag =>
        entries(key) = (postTag, update(v)); true
      case _ => false
    }
  }

  /** Evicts everything (running the release hook on each artifact). */
  def clear(): Unit = synchronized {
    entries.values.foreach { case (_, v) => onEvict(v) }
    entries.clear()
  }
}

object CorpusRegistry {

  /** Serving-mode memoization window for [[signature]], in
    * milliseconds. 0 (default, and what tests run under) disables
    * memoization: every lookup performs the recursive listing, so a
    * concurrent external write is seen immediately. A serving
    * deployment on an object store sets this to a few seconds: the
    * freshness guarantee weakens to "external mutations are seen
    * within TTL", and per-query LIST RPCs collapse to one per window
    * per corpus. Settable via `-Dgraft.signature.ttl.ms` or directly. */
  @volatile var signatureTtlMs: Long =
    java.lang.Long.getLong("graft.signature.ttl.ms", 0L)

  /** path -> (memoized-at millis, signature). */
  private val sigMemo =
    scala.collection.concurrent.TrieMap.empty[String, (Long, String)]

  /** Number of actual filesystem listings performed — the observable
    * for the one-LIST-per-window contract (and its spec). */
  private[sources] val listingsPerformed =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The data files currently under `path` (hidden and commit-marker
    * files excluded — the set a parquet read sees), sorted. Used by
    * the DSv2 write path to diff pre/post-append file sets, and by
    * index builders to PIN a corpus read to its build-time file set:
    * Spark's own parquet insert refreshes every cached plan rooted
    * under the written DIRECTORY (`refreshByPath`), so a
    * directory-rooted base index would silently re-list an in-place
    * append and double-count it inside an incremental merge —
    * explicit file roots re-list to themselves. */
  def dataFiles(path: String): Seq[String] =
    listAll(path).getOrElse(Nil).map(_.getPath).filterNot { p =>
      p.getName.startsWith("_") || p.getName.startsWith(".")
    }.map(_.toString).sorted

  /** One Hadoop configuration for every listing: a new one per call
    * re-parses its XML resources. */
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Every file under `path` (hidden and commit-marker files
    * included), or None when `path` is absent: `path` itself when it
    * is a file, else a recursive `listStatus` walk. `listFiles` lists
    * the same set, but its located statuses read each file's
    * permissions, one shell fork per file on the local filesystem. */
  private def listAll(path: String): Option[Seq[FileStatus]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val root = try fs.getFileStatus(p) catch { case _: java.io.FileNotFoundException => return None }
    val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    def walk(s: FileStatus): Unit =
      if (s.isDirectory) fs.listStatus(s.getPath).foreach(walk) else out += s
    walk(root)
    Some(out.toSeq)
  }

  /** Drop the memoized signature for `path` — called by writers that
    * mutate a corpus through our own paths (e.g. the DSv2 write
    * builder), so their next read re-lists immediately instead of
    * serving a stale signature for up to a TTL window. */
  def invalidateSignature(path: String): Unit = sigMemo.remove(path)

  /** Content signature of a file or directory: file count, total
    * byte length, and max modification time folded into one hex tag.
    * Hadoop-FS so it works on any supported filesystem; `absent` for
    * a missing path (the build itself will raise the real error).
    * Memoized for [[signatureTtlMs]] when that is positive. */
  def signature(path: String): String = {
    val ttl = signatureTtlMs
    if (ttl > 0L) {
      val now = System.currentTimeMillis()
      sigMemo.get(path) match {
        case Some((at, s)) if now - at < ttl => return s
        case _ =>
      }
      val s = listSignature(path)
      sigMemo(path) = (now, s)
      s
    } else listSignature(path)
  }

  private def listSignature(path: String): String = {
    listingsPerformed.incrementAndGet()
    listAll(path).fold("absent") { files =>
      val sz = files.map(_.getLen).sum
      val mt = files.map(_.getModificationTime).foldLeft(0L)(math.max)
      java.lang.Long.toHexString((sz * 31L) ^ (mt * 17L) ^ files.length.toLong)
    }
  }
}
