// Two packages: ShutdownHookManager is private[spark], IndexFixtures
// private[queries].
package org.apache.spark.util {
  object ShutdownDeleteProbe {
    def registered(dir: java.io.File): Boolean =
      ShutdownHookManager.hasShutdownDeleteDir(dir)

    /** Every path registered for deletion at shutdown (the set is
      * object-private, so it is read reflectively).
      */
    def paths(): Set[String] = {
      val m = ShutdownHookManager.getClass.getDeclaredMethod("shutdownDeletePaths")
      m.setAccessible(true)
      val set = m.invoke(ShutdownHookManager)
        .asInstanceOf[scala.collection.mutable.HashSet[String]]
      set.synchronized(set.toSet)
    }
  }
}

package graft.queries {
  import org.scalatest.funsuite.AnyFunSuite

  import org.apache.spark.util.ShutdownDeleteProbe

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

  /** The scratch directories queries and table engines make are deleted
    * when the JVM shuts down, even when the code that made one fails
    * before removing it.
    */
  class ScratchDirSpec extends graft.SparkSpec {
    test("FileLogEngine's default metadata directory is deleted at shutdown") {
      val dir = tempDir("scratch-filelog").toString
      val t = graft.streaming.FileLogEngine.create("scratch_spec", dir, "CSV", "k UInt64")
      try assert(ShutdownDeleteProbe.registered(new java.io.File(t.metaDir)), t.metaDir)
      finally graft.streaming.FileLogEngine.drop("scratch_spec")
    }

    // q84/q85 remove their directories once built, so the spec looks for
    // the new registrations rather than for the directories
    for ((q, prefixes) <- Seq(
        "q76_format_roundtrip" -> Seq("graft_q76_save-"),
        "q84_filelog" -> Seq("graft-q84-"),
        "q85_filelog_mv" -> Seq("graft-q85-", "graft-q85-sink-"))) {
      test(s"$q's scratch directories are deleted at shutdown") {
        val before = ShutdownDeleteProbe.paths()
        graft.SparkEntry.queries(q)(spark, sfDir).collect()
        val added = (ShutdownDeleteProbe.paths() -- before)
          .map(p => new java.io.File(p).getName)
        prefixes.foreach { prefix =>
          assert(added.exists(n => n.startsWith(prefix) &&
            !prefixes.exists(o => o.length > prefix.length && n.startsWith(o))),
            s"no $prefix* directory registered; new: $added")
        }
      }
    }
  }
}
