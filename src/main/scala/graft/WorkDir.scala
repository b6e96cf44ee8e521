package graft

import java.io.File

/** The one storage root for per-process scratch layouts (shared parquet
  * artifacts, persisted indexes, fabricated pipeline inputs, the default
  * reliable-checkpoint dir): `{java.io.tmpdir}/graft_<pid>/`, deleted
  * with everything under it by one JVM shutdown hook. The pid keeps
  * concurrent Bench/Verify processes apart; the dataset digest keeps a
  * stale layout over one dataset out of another dataset's reads.
  */
object WorkDir {

  /** Created by the first write below it; the hook is installed with it. */
  lazy val root: File = {
    val r = new File(System.getProperty("java.io.tmpdir"),
      s"graft_${ProcessHandle.current().pid()}")
    sys.addShutdownHook(deleteTree(r))
    r
  }

  /** Collision-free key of a dataset path (an Int hashCode can collide). */
  def digest(dataset: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dataset.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Scratch path of layout `tag` over `dataset`. */
  def path(tag: String, dataset: String): String =
    new File(root, s"${tag}_${digest(dataset)}").getPath

  /** Delete `path` and everything under it; a missing path is a no-op. */
  def delete(path: String): Unit = deleteTree(new File(path))

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
