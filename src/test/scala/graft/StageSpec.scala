package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The contracts of [[Stage]]: single-flight first build, no partial
  * dir after a build that throws, and removal of a session's dirs when
  * it ends.
  */
class StageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // a build that writes one data file into the dir it is given
  private def writeData(dir: String, body: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "data.txt"), body.getBytes("UTF-8"))
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def siblings(dir: Path): Seq[String] =
    Option(dir.getParent.toFile.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(dir.getFileName.toString))

  test("concurrent first callers build once and all read the same dir") {
    val dir = Files.createTempDirectory("graft-stagespec").resolve("art")
    val builds = new AtomicInteger()
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val results = (1 to n).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          start.await()
          Stage(spark, dir.toString, "s1") { tmp =>
            builds.incrementAndGet()
            Thread.sleep(200)
            writeData(tmp, "one")
          }
        }
      }))
      start.countDown()
      assert(results.map(_.get(60, TimeUnit.SECONDS)).toSet == Set(dir.toString))
    } finally pool.shutdownNow()
    assert(builds.get == 1, "the build must run once for concurrent first calls")
    assert(read(dir.resolve("data.txt")) == "one")
    assert(read(dir.resolve("_GRAFT_STAMP")) == "s1")
    assert(Files.exists(dir.resolve("_SUCCESS")))
    assert(siblings(dir) == Seq("art"), "no tmp sibling may remain")

    // same stamp: reused; new stamp: rebuilt in place
    Stage(spark, dir.toString, "s1")(_ => builds.incrementAndGet())
    assert(builds.get == 1)
    Stage(spark, dir.toString, "s2")(tmp => writeData(tmp, "two"))
    assert(read(dir.resolve("data.txt")) == "two")
    assert(read(dir.resolve("_GRAFT_STAMP")) == "s2")
  }

  test("a build that throws mid-write leaves no dir, and the next call rebuilds") {
    val dir = Files.createTempDirectory("graft-stagespec").resolve("art")
    val boom = intercept[IllegalStateException] {
      Stage(spark, dir.toString, "s1") { tmp =>
        writeData(tmp, "partial")
        throw new IllegalStateException("killed mid-write")
      }
    }
    assert(boom.getMessage == "killed mid-write")
    assert(!Files.exists(dir), "a failed build must leave no dir at the final path")
    assert(siblings(dir).isEmpty, "a failed build must delete its tmp dir")

    Stage(spark, dir.toString, "s1")(tmp => writeData(tmp, "complete"))
    assert(read(dir.resolve("data.txt")) == "complete")
    assert(Files.exists(dir.resolve("_SUCCESS")))
    assert(read(dir.resolve("_GRAFT_STAMP")) == "s1")
  }

  test("the session-end handler removes every dir the session created") {
    val sess = new Stage.Session(spark.sparkContext.hadoopConfiguration)
    val shared = Files.createTempDirectory("graft-stagespec-root")
    val onShared = spark.newSession()
    onShared.conf.set("spark.graft.stageDir", shared.toString)
    val dirs = Seq(
      sess.dir(spark, "graft-a", "k1"),
      sess.dir(spark, "graft-b", "k1"),
      sess.dir(onShared, "graft-a", "k1"))
    assert(dirs.distinct.size == 3)
    assert(dirs.take(2).forall(_.startsWith(sess.tempRoot)))
    assert(dirs(2).startsWith(shared.toString + "/graft-a-"))
    dirs.foreach(d => Stage(spark, d, "k1")(tmp => writeData(tmp, d)))
    assert(dirs.forall(d => Files.exists(Paths.get(d, "_SUCCESS"))))

    sess.onApplicationEnd(null)
    assert(dirs.forall(d => !Files.exists(Paths.get(d))),
      "every stage dir of the session must be gone")
    assert(!Files.exists(Paths.get(sess.tempRoot)))
    assert(Files.exists(shared), "the configured root itself is not the session's")
  }
}
