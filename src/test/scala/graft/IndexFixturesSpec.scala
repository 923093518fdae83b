// Two packages: ShutdownHookManager is private[spark], IndexFixtures
// private[queries].
package org.apache.spark.util {
  object ShutdownDeleteProbe {
    def registered(dir: java.io.File): Boolean =
      ShutdownHookManager.hasShutdownDeleteDir(dir)
  }
}

package graft.queries {
  import org.scalatest.funsuite.AnyFunSuite

  class IndexFixturesSpec extends AnyFunSuite {
    test("a fixture directory is deleted when the JVM shuts down") {
      var builtIn: Option[String] = None
      val d = IndexFixtures.dir("graft-fixture-spec", "sf-spec")(dir => builtIn = Some(dir))
      assert(builtIn === Some(d))
      assert(IndexFixtures.dir("graft-fixture-spec", "sf-spec")(_ => fail("rebuilt")) === d)
      assert(org.apache.spark.util.ShutdownDeleteProbe.registered(new java.io.File(d)),
        s"$d is not registered for deletion at shutdown")
    }
  }
}
