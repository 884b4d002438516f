package graft
package gates

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The one staging policy for gate-row fixtures: format mirrors, persisted
  * stores and models, bucketed lake tables, staged stream inputs and the
  * media tree. Staging is a layout job outside the timed read path, so
  * each fixture is built once per (session, sf dir, source version of the
  * tables it reads): a regenerated testdata file changes its
  * (size, mtime) tag and the fixture is rebuilt, and a second session
  * never reads a fixture another session is still writing.
  *
  * Fixture dirs are named by pid + session token + an md5 tag of the sf
  * dir, and registered with [[graft.sources.TempDirs]] for deletion at
  * exit. The pid keeps concurrent JVMs apart (Spark's overwrite deletes a
  * dir before rewriting it, so a shared path could expose a half-written
  * mirror — ADVICE r9 #2). The session token keeps two sessions in one
  * JVM apart. The md5 tag keeps sf dirs apart, where a sanitized path
  * alone would be lossy ('/a/b' and '/a_b' collide).
  */
private[graft] object Fixtures {
  private val cache = new operators.SessionCache[Any]

  /** `build` once per (session, `name`, sf dir `d`, source version of
    * `tables`, each a file under `d`). */
  def memo[V](s: SparkSession, name: String, d: String, tables: String*)(build: => V): V = {
    val key = (operators.SessionCache.token(s) +: name +: d +:
      tables.map(sourceTag(d, _))).mkString("#")
    cache.getOrBuild(key)(build).asInstanceOf[V]
  }

  /** [[memo]] that hands `build` its fixture dir (see [[dir]]), deleted
    * first so a rebuild never sees a previous build's files. */
  def staged[V](s: SparkSession, name: String, d: String, tables: String*)(
      build: String => V): V =
    memo(s, name, d, tables: _*) {
      val out = dir(s, name, d)
      deleteDir(Paths.get(out))
      build(out)
    }

  /** The fixture dir for (`name`, session, sf dir `d`) in this JVM,
    * registered for deletion at exit. */
  def dir(s: SparkSession, name: String, d: String): String = {
    val pathTag = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    graft.sources.TempDirs.register(
      s"/tmp/graft_${name}_${ProcessHandle.current().pid()}_" +
        s"${operators.SessionCache.token(s).take(8)}_$pathTag")
  }

  // (size, mtime) of a testdata file: the source-version part of the key
  private def sourceTag(d: String, tableFile: String): String = {
    val p = Paths.get(s"$d/$tableFile")
    s"${Files.size(p)}#${Files.getLastModifiedTime(p).toMillis}"
  }

  /** Drop table `t` and its warehouse dir. A fresh JVM's in-memory catalog
    * doesn't know tables whose files a PREVIOUS run left in the warehouse,
    * and saveAsTable refuses an existing location (LOCATION_ALREADY_EXISTS).
    */
  def resetTable(s: SparkSession, t: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir") + "/" + t)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  def deleteDir(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(Files.delete(_))
}
