package graft

import java.io.File

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Scratch

/** Lifecycle of the lake scratch dirs: every path an op gets lies under
  * its SparkContext's root, per-call dirs are private to a thread, and
  * the application-end cleanup deletes exactly its own root. The
  * cleanup is driven for a synthetic application id, so the shared
  * session is never stopped.
  */
class ScratchSuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark

  test("shared and perCall paths lie under the context's root") {
    val root = Scratch.root(s)
    assert(root == Scratch.rootOf(s.sparkContext.applicationId))
    val shared = Scratch.shared(s, TestSpark.Sf0001, "probe")
    val perCall = Scratch.perCall(s, "probe")
    Seq(shared, perCall).foreach(p => assert(p.startsWith(root + "/"), p))
    // the shared dir is keyed on the fixture dir, like SessionArtifact
    assert(shared != Scratch.shared(s, TestSpark.Sf0001 + "x", "probe"))
    assert(Scratch.perCall(s, "probe") == perCall, "one thread reuses its dir")
    var other = ""
    val t = new Thread(() => other = Scratch.perCall(s, "probe"))
    t.start(); t.join()
    assert(other.startsWith(root + "/") && other != perCall,
      "another thread must get its own dir")
  }

  test("application-end cleanup deletes its root and nothing else") {
    val live = new File(Scratch.perCall(s, "lifecycle_probe"))
    live.mkdirs()
    val root = Scratch.rootOf(s"synthetic-app-${System.nanoTime()}")
    assert(root != Scratch.root(s))
    val nested = new File(root, "sink_x_t1/part/data.parquet")
    nested.getParentFile.mkdirs()
    assert(nested.createNewFile() && new File(root).isDirectory)
    new Scratch.Cleanup(root).onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(!new File(root).exists, s"root survived its application: $root")
    assert(live.isDirectory, "another application's root was touched")
    Scratch.empty(live.getPath)
    assert(!live.exists)
    Scratch.empty(live.getPath) // a missing path is a no-op
  }
}
