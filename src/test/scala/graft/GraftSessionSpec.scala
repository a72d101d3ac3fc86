package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session core count resolves in one place (no session is built). */
class GraftSessionSpec extends AnyFunSuite {
  private val cores = Runtime.getRuntime.availableProcessors.toString

  test("core count: SPARK_GRAFT_CPUS when set, else every available processor") {
    assert(GraftSession.cpusFrom(Some("3")) == "3")
    assert(GraftSession.cpusFrom(None) == cores)
    assert(GraftSession.defaultCpus == sys.env.getOrElse("SPARK_GRAFT_CPUS", cores))
  }
}
