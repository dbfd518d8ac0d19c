package graft

import java.io.File

/** The one scratch root: staged bench inputs, derived tables that
  * queries write and read back (saved indexes, partitioned layouts,
  * fixture sidecars), and Spark's local dir. The root is
  * `GRAFT_FIXTURE_DIR`, else `/dev/shm` — tmpfs, so shuffle spill and
  * read-backs measure the plans rather than a stalling disk — else, on a
  * host without a writable `/dev/shm`, `java.io.tmpdir`. Deployments
  * with a small `/dev/shm` (a container's default is 64 MiB) set
  * `GRAFT_FIXTURE_DIR` to a disk directory, as `docker/entrypoint.sh`
  * and the `tools/mkdist.sh` launchers do.
  */
object Scratch {

  def root: String = sys.env.getOrElse("GRAFT_FIXTURE_DIR",
    Some("/dev/shm").filter(new File(_).canWrite).getOrElse(System.getProperty("java.io.tmpdir")))

  /** `<root>/graft_<tag>`. */
  def dir(tag: String): String = new File(root, s"graft_$tag").getPath

  /** `<root>/graft_<tag>_<basename of sfDir>_<hash>`: a derived table
    * keyed by the dataset it was built from. The hash (first 6 bytes of
    * the MD5 of the canonical dataset path) keeps two datasets whose
    * directories share a basename apart under the shared root.
    */
  def path(tag: String, sfDir: String): String = {
    val f = new File(sfDir)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(f.getCanonicalPath.getBytes("UTF-8")).take(6)
      .map("%02x".format(_)).mkString
    dir(s"${tag}_${f.getName}_$key")
  }

  /** Delete `f` and everything under it (best-effort: a file that cannot
    * be deleted stays, and the caller checks `exists` if it matters).
    */
  def remove(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(remove))
    f.delete(): Unit
  }
}
