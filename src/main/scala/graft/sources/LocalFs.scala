package graft.sources

import java.nio.file.{FileSystems, Files}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, with permissions set without
  * starting a process.
  *
  * Without libhadoop (`NativeIO.isAvailable()` false, as in Spark's binary
  * distribution), Hadoop's `RawLocalFileSystem.setPermission` runs
  * `chmod 0NNN` in a child process, and `create` and `mkdirs` call it for
  * every file and directory they make: about 1 ms each, some 45 per
  * validation batch (its parquet files, their `.crc` files, the committer's
  * directories and the commit JSONs). Here the raw layer makes the same
  * chmod(2) call in process, through NIO's `unix:mode` attribute, with the
  * mode `chmod 0NNN` gives: the permission's bits (sticky bit included),
  * and on a directory the set-user-ID and set-group-ID bits it already
  * carries (GNU `chmod` keeps them; a directory inherits set-group-ID from
  * its parent). A default file system without the `unix` attribute view
  * keeps Hadoop's own path. The checksum layer is Hadoop's
  * `LocalFileSystem`, so `.crc` files are written and verified as before.
  *
  * Graft creates its own files on `file:` paths through this class:
  * DataFrame writes take [[writerOptions]], and single files and the commit
  * log take the file system [[fsFor]] gives. Other schemes are untouched.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private val unixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!unixView) super.setPermission(p, permission)
      else {
        val f = pathToFile(p).toPath
        val old = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
        val idBits = if ((old & 0xf000) == 0x4000) old & 0xc00 else 0 // S_IFDIR: S_ISUID|S_ISGID
        Files.setAttribute(f, "unix:mode", Integer.valueOf(permission.toShort | idBits))
      }
  }

  /** `DataFrameWriter` options under which the write resolves `file:` to
    * [[LocalFs]]. Spark folds writer options into the write job's Hadoop
    * conf, which the committer's job setup, job commit and `_SUCCESS`
    * marker and every write task use. The cache must be off for that conf,
    * or `FileSystem.get` returns the JVM's cached instance; the uncached
    * instances hold no threads or handles. Other schemes ignore both keys.
    */
  val writerOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The file system for `dir`, and `dir` as a Hadoop path, resolved under
    * a copy of `conf` that holds [[writerOptions]]: a new [[LocalFs]] when
    * the qualified path's scheme is `file` (a bare path qualifies against
    * `fs.defaultFS`), else the path's own file system. The keys are by
    * scheme, so the scheme decides, not the class `file:` resolves to,
    * which may be a subclass such as Hive's `ProxyLocalFileSystem`.
    */
  def fsFor(dir: String, conf: Configuration): (FileSystem, Path) = {
    val c = new Configuration(conf)
    writerOptions.foreach { case (k, v) => c.set(k, v) }
    val p = new Path(dir)
    (p.getFileSystem(c), p)
  }
}
