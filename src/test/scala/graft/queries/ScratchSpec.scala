package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Scratch roots are deleted at JVM exit by ONE shutdown hook, however
  * many dirs a session makes.
  */
class ScratchSpec extends AnyFunSuite {

  /** The JVM's registered application shutdown hooks. */
  private def hooks(): Int = {
    val f = Class.forName("java.lang.ApplicationShutdownHooks").getDeclaredField("hooks")
    f.setAccessible(true)
    val m = f.get(null).asInstanceOf[java.util.IdentityHashMap[Thread, Thread]]
    m.size
  }

  test("50 scratch dirs register at most one shutdown hook") {
    val before = hooks()
    val dirs = (1 to 50).map(i => Scratch.dir(s"graft-scratchspec-$i-"))
    assert(hooks() - before <= 1)
    assert(dirs.distinct.size == 50 && dirs.forall(d => new java.io.File(d).isDirectory))
  }
}
