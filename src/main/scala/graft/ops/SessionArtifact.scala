package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** Once-per-(session, fixture dir) artifact cache — the shared helper
  * behind every "build once, consume many" op artifact (the verified
  * near-dup pair set, the IVF fit, the bucketed tables, the streaming
  * replay source, the parquet footer schemas `Tables.parquet` reads
  * with, keyed by path). Keyed on the SparkContext OBJECT (reference
  * equality — SparkContext doesn't override equals), not its identity
  * hash: a recycled address in a long-lived JVM must never serve a
  * dead session's artifact (checkpoint blocks and catalog entries die
  * with their context). A fresh session/context therefore always
  * rebuilds, so a changed fixture can't be served stale across driver
  * runs; entries for stopped contexts are few per JVM and harmless.
  */
private[graft] final class SessionArtifact[A] {
  private val cache = new ConcurrentHashMap[(SparkContext, String), A]()
  def apply(s: SparkSession, dir: String)(build: => A): A =
    cache.computeIfAbsent((s.sparkContext, dir), _ => build)
}

private[graft] object SessionArtifact {
  /** Filesystem/table-name tag for a fixture dir: human-readable
    * sanitized path PLUS the raw path's hash, so two dirs that sanitize
    * identically (`/data/sf0.01` vs `/data/sf0_01`) can never collide
    * on a scratch path or a catalog table name.
    */
  def dirTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      java.lang.Integer.toHexString(dir.hashCode)
}

/** The one way a build gets a session with its own conf: a clone of
  * `s` (`newSession`: shared SparkContext, private SQLConf and temp-view
  * catalog) with `s`'s runtime conf copied (modifiable keys only —
  * static confs throw) and then `overrides` pinned on top. Clones are
  * cached per (SparkContext, effective conf) — the parent's
  * `conf.getAll` plus the overrides — so every build with the same conf
  * reuses ONE clone, and with it the codegen cache entries compiled
  * under that session, and its single streaming listener bus. A parent
  * whose conf changed gets a new clone that sees the change.
  *
  * A clone is shared by every build and every thread with that conf,
  * so nothing may call `conf.set` on it after it is returned, and
  * whatever a build registers on it (a memory sink's temp view, a query
  * name) must be unique per call and released when the build is done.
  * The clone carries the `graft_*` catalog. Like `SessionArtifact`,
  * the cache is keyed on the SparkContext object, so a new context
  * always gets new clones.
  */
private[graft] object SessionClone {
  private val clones =
    new ConcurrentHashMap[(SparkContext, Map[String, String]), SparkSession]()

  def apply(s: SparkSession, overrides: Map[String, String]): SparkSession = {
    val parent = s.conf.getAll
    clones.computeIfAbsent((s.sparkContext, parent ++ overrides), _ => {
      val c = s.newSession()
      parent.foreach { case (k, v) =>
        if (c.conf.isModifiable(k) && c.conf.getOption(k) != Some(v)) c.conf.set(k, v)
      }
      overrides.foreach { case (k, v) => c.conf.set(k, v) }
      GraftExtensions.register(c)
      c
    })
  }
}
