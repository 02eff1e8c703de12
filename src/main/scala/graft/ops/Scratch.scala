package graft.ops

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Where ops write lake files. Each SparkContext owns one root,
  * `${java.io.tmpdir}/graft_scratch/<sanitised applicationId>/`, deleted
  * when its application ends. `shared` dirs are written once per
  * (context, fixture dir), the [[SessionArtifact]] key; a destructive
  * build empties its dir first, since a failed build is retried. `perCall`
  * dirs are rewritten by every build and private to the calling thread:
  * concurrent clients never share one, a single client reuses its own.
  * Resolve `perCall` on the build thread (never inside `foreachBatch` or
  * a task) and consume the result before building that op again there.
  */
private[graft] object Scratch {
  private val roots = new ConcurrentHashMap[SparkContext, String]()

  /** Reads `java.io.tmpdir` per root, so a caller may set it before its session. */
  def rootOf(applicationId: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_scratch/${applicationId.replaceAll("[^A-Za-z0-9]", "_")}"

  def root(s: SparkSession): String = roots.computeIfAbsent(s.sparkContext, sc => {
    val r = rootOf(sc.applicationId)
    sc.addSparkListener(new Cleanup(r)); r
  })

  def shared(s: SparkSession, dir: String, name: String): String =
    s"${root(s)}/${name}_${SessionArtifact.dirTag(dir)}"

  def perCall(s: SparkSession, name: String): String =
    s"${root(s)}/${name}_t${Thread.currentThread().getId}"

  /** Deletes `path` and everything under it; a missing path is a no-op. */
  def empty(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => empty(c.getPath)))
    f.delete(); ()
  }

  final class Cleanup(root: String) extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = empty(root)
  }
}
