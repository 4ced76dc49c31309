package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class RunCacheSpec extends AnyFunSuite {

  /** A source key no other suite uses. */
  private val src = s"run-cache-spec-${java.util.UUID.randomUUID}"

  private def write(d: String, body: String): Unit = {
    new File(d).mkdirs()
    Files.writeString(new File(d, "part").toPath, body)
  }

  private def read(d: String): String =
    Files.readString(new File(d, "part").toPath)

  test("concurrent callers of one key share one build") {
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val dirs = new ConcurrentLinkedQueue[String]()
    val threads = (1 to 2).map(_ => new Thread(() => {
      go.await()
      dirs.add(RunCache.dir(src, "shared") { d =>
        builds.incrementAndGet()
        Thread.sleep(200) // hold the build open while the other caller arrives
        write(d, "x")
      })
      ()
    }))
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join(60000))
    assert(builds.get == 1)
    assert(dirs.size == 2 && dirs.asScala.toSet.size == 1)
    assert(read(dirs.peek()) == "x")
  }

  test("a builder that throws caches nothing, and the next call builds again") {
    var partial: String = null
    intercept[IllegalStateException] {
      RunCache.dir(src, "flaky") { d =>
        partial = d
        write(d, "half")
        throw new IllegalStateException("build failed")
      }
    }
    assert(!new File(partial).exists())
    val d = RunCache.dir(src, "flaky")(write(_, "whole"))
    assert(read(d) == "whole")
    assert(RunCache.dir(src, "flaky")(_ => fail("built twice")) == d)
  }

  test("a builder may use another cached artifact") {
    val outer = RunCache.dir(src, "outer") { d =>
      write(d, read(RunCache.dir(src, "inner")(write(_, "in"))) + "+out")
    }
    assert(read(outer) == "in+out")
    assert(read(RunCache.dir(src, "inner")(_ => fail("inner built twice"))) == "in")
  }

  test("the per-JVM directory is all the cache writes under java.io.tmpdir") {
    val tmp = new File(System.getProperty("java.io.tmpdir")).getCanonicalFile
    def entries = tmp.list().toSet
    val before = entries
    val dirs = (1 to 3).map(i => RunCache.dir(src, s"k$i")(write(_, s"v$i")))
    val root = RunCache.root.getCanonicalFile
    assert(root.getParentFile == tmp)
    assert((entries -- before).subsetOf(Set(root.getName)))
    assert(dirs.forall(d => new File(d).getCanonicalFile.getParentFile == root))
  }

  test("delete removes the directory and the next call builds again") {
    val d = RunCache.dir(src, "gone")(write(_, "old"))
    val root = RunCache.root
    RunCache.delete()
    assert(!root.exists() && !new File(d).exists())
    assert(read(RunCache.dir(src, "gone")(write(_, "new"))) == "new")
  }
}
