package graft.sources

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** The one lifecycle of every persisted store — the reference's
  * build-once / serve-many FAISS index (faiss_utils.py:11-17). A store
  * is named by its kind, its data directory and a fingerprint of the
  * source it was built from; it is built once under an in-JVM lock and
  * an OS file lock, and it is complete iff its `_SUCCESS` marker exists.
  * Path stores are built into `<path>.building` and committed with one
  * atomic directory rename, so a crash or a concurrent reader never
  * sees a partial store carrying `_SUCCESS`. Catalog stores
  * ([[BucketedStore.ensure]]) share the same locks. */
object Store {

  /** `<prefix>_<dataDir with every non-alphanumeric as _>_<fingerprint
    * of dataDir/source>`: a source regenerated in place mints a new
    * store name instead of silently serving the stale one. */
  def name(prefix: String, dataDir: String,
           source: String = "embeddings.parquet"): String =
    s"${prefix}_${safe(dataDir)}_${fingerprint(s"$dataDir/$source")}"

  private def safe(dataDir: String): String =
    dataDir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Cheap content fingerprint of a source data path (file names,
    * sizes, mtimes — no data read). 8 hex chars of the tuple hash; a
    * missing path fingerprints as "absent" rather than throwing so the
    * build itself reports the real error. */
  def fingerprint(path: String): String = {
    val p = Paths.get(path)
    if (!Files.exists(p)) "absent"
    else {
      val parts = Files.walk(p).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(f => s"${p.relativize(f)}:${Files.size(f)}:" +
          Files.getLastModifiedTime(f).toMillis)
        .toSeq.sorted.mkString("\n")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(parts.getBytes("UTF-8"))
      md.take(4).map("%02x".format(_)).mkString
    }
  }

  /** Build the store at `path` once: `build` writes it into the staging
    * directory it is given (a Spark write leaves the `_SUCCESS` marker
    * there), and the staging directory is then renamed to `path`.
    * Sharers of one store in one JVM (Verify runs keys concurrently)
    * queue on the JVM lock; a second process queues on the OS lock of
    * `<path>.lock` and, once it holds it, sees the peer's commit and
    * skips. A leftover staging directory or an incomplete `path` (a
    * crashed build) is deleted before the rebuild. The `.lock` file is
    * left behind by design: deleting it would race a peer that holds
    * the lock, and the OS drops a dead holder's lock. */
  def ensurePath(path: String)(build: String => Unit): Unit = {
    val store = Paths.get(path)
    if (!complete(store))
      locked(path, Some(Paths.get(path + ".lock"))) {
        if (!complete(store)) {
          val staging = Paths.get(path + ".building")
          deleteTree(staging)
          deleteTree(store)
          build(staging.toString)
          if (!complete(staging))
            throw new IllegalStateException(
              s"build of $path left no _SUCCESS in $staging")
          Files.move(staging, store, StandardCopyOption.ATOMIC_MOVE)
        }
      }
  }

  private def complete(store: Path): Boolean =
    Files.exists(store.resolve("_SUCCESS"))

  /** Run `body` under the JVM-wide lock for `key` and, when given, the
    * OS advisory lock on `lockFile`. The JVM lock is needed as well:
    * two threads of one process locking the same file would throw
    * OverlappingFileLockException instead of queuing. */
  private[sources] def locked[A](key: String, lockFile: Option[Path])
      (body: => A): A =
    locks.getOrElseUpdate(key, new Object).synchronized {
      lockFile match {
        case None => body
        case Some(f) =>
          val ch = FileChannel.open(f,
            StandardOpenOption.CREATE, StandardOpenOption.WRITE)
          try {
            val fl = ch.lock()
            try body finally fl.release()
          } finally ch.close()
      }
    }

  private val locks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Recursively delete `p` if it exists. */
  private[graft] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverseIterator
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    }

  /** Recursively delete every /tmp store named `prefix` for `dataDir`
    * under any fingerprint (every [[name]]`(prefix, dataDir, _)`) — the
    * reclaim hook a store-layout tag bump calls from inside the NEW
    * store's build (so orphaned old-layout dirs don't accrete on
    * long-lived hosts). Best-effort: a vanished file mid-walk is
    * ignored, /tmp being missing is not an error. */
  def deleteStaleStores(prefix: String, dataDir: String): Unit = {
    val stale = s"${prefix}_${safe(dataDir)}_"
    val tmp = Paths.get("/tmp")
    if (!Files.isDirectory(tmp)) return
    val stream = Files.list(tmp)
    try {
      stream.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith(stale))
        .foreach { root =>
          val walk = Files.walk(root)
          try {
            walk.iterator().asScala.toSeq.reverseIterator.foreach { p =>
              try Files.deleteIfExists(p)
              catch { case _: java.io.IOException => () }
            }
          } finally walk.close()
        }
    } finally stream.close()
  }
}
