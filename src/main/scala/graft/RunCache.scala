package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Derived artifacts (trained models, stored indexes, re-encoded inputs)
  * cached for the life of the JVM that derived them — the driver-side
  * sibling of [[graft.operators.ExecutorRegistry]], after the reference's
  * session-scoped ObjectRegistry
  * (tez-api/src/main/java/org/apache/tez/runtime/api/ObjectRegistry.java:37).
  *
  * Contract of [[dir]]:
  *
  *  - each `(srcDir, name)` key is built at most once per JVM; concurrent
  *    callers of one key wait for, and share, that one build;
  *  - a build that throws caches nothing (its partial output is deleted),
  *    so the next call builds again;
  *  - a build may itself call [[dir]] for another key.
  *
  * Nothing is persisted across processes: every artifact lives under one
  * per-JVM directory in `java.io.tmpdir`, deleted at JVM exit (or by
  * [[delete]], for a main that halts). A cached artifact is therefore
  * always what the running code builds; no key carries a version.
  */
private[graft] object RunCache {

  private var rootDir: Option[File] = None

  /** This JVM's cache directory, created on first use. */
  private[graft] def root: File = synchronized {
    rootDir.getOrElse {
      val d = java.nio.file.Files.createTempDirectory("graft_run_").toFile
      sys.addShutdownHook(delete())
      rootDir = Some(d)
      d
    }
  }

  /** A key's slot; its monitor serializes that key's builds. */
  private final class Slot { var path: Option[String] = None }

  private val slots = new ConcurrentHashMap[(String, String), Slot]()
  private val seq = new AtomicInteger()

  /** The directory holding artifact `name` derived from `srcDir`, running
    * `build` into a fresh path on the key's first call.
    */
  def dir(srcDir: String, name: String)(build: String => Unit): String = {
    val slot = slots.computeIfAbsent((srcDir, name), _ => new Slot)
    slot.synchronized {
      slot.path.getOrElse {
        val d = new File(root, s"${name}_${seq.incrementAndGet()}")
        try build(d.getPath)
        catch { case e: Throwable => deleteRec(d); throw e }
        require(d.isDirectory, s"$name: the build wrote no directory at $d")
        slot.path = Some(d.getPath)
        d.getPath
      }
    }
  }

  /** Delete the cache directory and forget every key. */
  private[graft] def delete(): Unit = synchronized {
    rootDir.foreach(deleteRec)
    rootDir = None
    slots.clear()
  }

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRec)
    f.delete()
  }
}
