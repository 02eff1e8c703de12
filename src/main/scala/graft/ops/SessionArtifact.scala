package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

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
