package graft

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** Where the engine keeps the state it writes: standing fixtures,
  * oracle dumps, round-trip outputs, per-run scratch and the warehouse
  * all resolve under one root, `graft` inside the JVM's
  * `java.io.tmpdir`. A JVM launched with its own tmpdir therefore
  * keeps its own state and shares no fixture with another.
  */
object GraftPaths {

  val root: String = Paths.get(System.getProperty("java.io.tmpdir"), "graft").toAbsolutePath.toString

  /** The directory of state derived from data dir `dir`, named by the
    * one [[Tables.dirKeyed]] rule.
    */
  def keyed(key: String, dir: String): String = s"$root/${Tables.dirKeyed(key, dir)}"

  /** Where the model dump of `kind` lands; the DuckDB oracle SQL reads
    * it back through the same name.
    */
  def oracle(kind: String): String = s"$root/oracle/$kind"

  /** Deletes `path` recursively and returns it, so whatever is built
    * there starts from nothing.
    */
  def cleared(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(SparkSession.active.sessionState.newHadoopConf()).delete(p, true)
    path
  }
}
