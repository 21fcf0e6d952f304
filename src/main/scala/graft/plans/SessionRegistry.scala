package graft.plans

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one registry of what a session builds once from its input files
  * and reuses: [[LocalEval]]'s rows of small file relations, and the
  * catalog's persisted pins (HyperBall registers, co-occurrence pairs,
  * walks, MinHash signatures).
  *
  * Every entry sits in a slot (`key`) with the fingerprint of the files
  * it was built from: sorted (path, length, modification time) of each
  * file, taken from a listing Spark already holds or, for a pin, from
  * one file-system listing on the driver. A lookup with another
  * fingerprint — the table was rewritten or swapped — misses, and the
  * stale entry is released (a pin unpersisted) and dropped.
  *
  * Entries live in one table per `SparkContext`; a listener drops the
  * table when that context stops, whose own stop frees every pinned
  * block. Driver-heap rows are bounded: past `limitBytes` the least
  * recently used rows go (pins weigh 0 here: their blocks live in the
  * block manager, which bounds and spills them itself), and rows larger
  * than the bound on their own are not stored. */
final class SessionRegistry(val limitBytes: Long) {
  import SessionRegistry._

  private final class Entry(val fingerprint: Any, val value: AnyRef, val bytes: Long,
      val release: () => Unit)

  private final class Table {
    /** Access-ordered: iteration starts at the least recently used. */
    val entries = new java.util.LinkedHashMap[Any, Entry](16, 0.75f, true)
    var builds, hits, bytes, buildNanos = 0L
  }

  private val tables = new java.util.IdentityHashMap[SparkContext, Table]()

  private def table(sc: SparkContext): Table = synchronized {
    tables.keySet.removeIf(_.isStopped)
    var t = tables.get(sc)
    if (t == null) {
      t = new Table
      tables.put(sc, t)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          SessionRegistry.this.synchronized { tables.remove(sc); () }
      })
    }
    t
  }

  /** The value stored in `key` for `fingerprint`, counted as a hit. An
    * entry stored for another fingerprint is released and dropped. */
  def get[V <: AnyRef](sc: SparkContext, key: Any, fingerprint: Any): Option[V] = synchronized {
    val t = table(sc)
    Option(t.entries.get(key)) match {
      case Some(e) if e.fingerprint == fingerprint =>
        t.hits += 1
        Some(e.value.asInstanceOf[V])
      case Some(_) => drop(t, key); None
      case None => None
    }
  }

  /** Store `value` in `key` for `fingerprint`, built in `nanos`, holding
    * `bytes` of driver heap; evicts least recently used rows past the
    * bound. Rows over the bound alone are released at once, not stored. */
  def put(sc: SparkContext, key: Any, fingerprint: Any, value: AnyRef, bytes: Long,
      nanos: Long, release: () => Unit = () => ()): Unit = synchronized {
    val t = table(sc)
    t.builds += 1
    t.buildNanos += nanos
    drop(t, key)
    if (bytes > limitBytes) release()
    else {
      val stored = new Entry(fingerprint, value, bytes, release)
      t.entries.put(key, stored)
      t.bytes += bytes
      val it = t.entries.values.iterator
      while (t.bytes > limitBytes && it.hasNext) {
        val e = it.next()
        if (e.bytes > 0 && (e ne stored)) {
          it.remove()
          t.bytes -= e.bytes
          e.release()
        }
      }
    }
  }

  /** The pin in `key` for `fingerprint`, else `build`'s, stored with
    * `release` (unpersist) for when its files change. */
  def pin[V <: AnyRef](sc: SparkContext, key: Any, fingerprint: Any)(release: V => Unit)(
      build: => V): V =
    get[V](sc, key, fingerprint).getOrElse {
      val t0 = System.nanoTime()
      val v = build
      put(sc, key, fingerprint, v, 0L, System.nanoTime() - t0, () => release(v))
      v
    }

  private def drop(t: Table, key: Any): Unit = {
    val e = t.entries.remove(key)
    if (e != null) {
      t.bytes -= e.bytes
      e.release()
    }
  }

  /** Builds, hits, bytes held and build seconds of `sc`'s entries. */
  def stats(sc: SparkContext): Stats = synchronized {
    tables.keySet.removeIf(_.isStopped)
    val t = tables.get(sc)
    if (t == null) Stats(0, 0, 0, 0, 0.0)
    else Stats(t.entries.size, t.builds, t.hits, t.bytes, t.buildNanos / 1e9)
  }
}

object SessionRegistry {

  final case class Stats(entries: Int, builds: Long, hits: Long, bytes: Long,
      buildSeconds: Double)

  /** The JVM's registry: driver-heap rows bounded at an eighth of the
    * maximum heap. */
  val shared: SessionRegistry = new SessionRegistry(Runtime.getRuntime.maxMemory / 8)

  /** Fingerprint of a file listing: sorted (path, length, mtime). */
  def fingerprint(files: Iterable[FileStatus]): Seq[(String, Long, Long)] =
    files.iterator.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .toSeq.sorted

  /** Fingerprint of the files under `paths`, listed recursively on the
    * driver (no Spark job); a missing path lists nothing. Listed with
    * `listStatus`, not `listFiles`: the latter's `LocatedFileStatus`
    * reads each file's permission, which Hadoop's local file system
    * without native IO does by starting an `ls -ld` process per file. */
  def listing(spark: SparkSession, paths: Seq[String]): Seq[(String, Long, Long)] = {
    def files(fs: FileSystem, s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(files(fs, _)) else Seq(s)
    fingerprint(paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) Nil else files(fs, fs.getFileStatus(path))
    })
  }
}
