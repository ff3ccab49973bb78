package graft.sources

import graft.SparkSpec
import graft.operators.ResumableValidate
import graft.rules.{Keywords, Rule}
import java.nio.file.{Files, Paths}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** [[LocalFs]] makes the same files as Hadoop's local file system, and the
  * validation path that uses it starts no process.
  */
class LocalFsSpec extends SparkSpec {

  private val conf = new Configuration()

  private def hadoopLocal: FileSystem = {
    val fs = new LocalFileSystem
    fs.setConf(conf)
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  private def localFs(dir: String): FileSystem = LocalFs.fsFor(dir, conf)._1

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every file and dir under `root`, relative, with its mode bits. */
  private def tree(root: String): Seq[(String, Int)] = {
    val r = Paths.get(root)
    Files.walk(r).iterator.asScala.filter(_ != r)
      .map(p => r.relativize(p).toString -> mode(p.toString)).toSeq.sorted
  }

  test("files and dirs made through LocalFs get Hadoop's permissions and .crc files") {
    assert(localFs("/tmp").isInstanceOf[LocalFs])
    assert(localFs("file:///tmp").isInstanceOf[LocalFs])
    val perms = None +: Seq("600", "700", "755")
      .map(m => Some(new FsPermission(oct(m).toShort)))
    val made = Seq("hadoop" -> hadoopLocal, "localfs" -> localFs("/tmp")).map {
      case (name, fs) =>
        val root = Files.createTempDirectory(s"graft_perm_$name").toString
        perms.zipWithIndex.foreach { case (perm, i) =>
          val f = new Path(s"$root/f$i/data.bin")
          val out = perm.fold(fs.create(f, true))(fs.create(f, _, true, 4096,
            fs.getDefaultReplication(f), fs.getDefaultBlockSize(f), null))
          try out.write(Array.tabulate[Byte](3000)(_.toByte)) finally out.close()
          val d = new Path(s"$root/d$i/a/b")
          assert(perm.fold(fs.mkdirs(d))(fs.mkdirs(d, _)))
        }
        tree(root)
    }
    val (hadoop, local) = (made(0), made(1))
    assert(local == hadoop)
    assert(local.count(_._1.endsWith(".data.bin.crc")) == perms.size)
    // each permission was applied, not a default
    assert(local.filter(_._1.endsWith("/data.bin")).map(_._2) ==
      Seq("644", "600", "700", "755").map(oct))
  }

  test("a sticky-bit permission and a set-group-ID parent give Hadoop's modes") {
    val root = Files.createTempDirectory("graft_perm_bits")
    Files.setAttribute(root, "unix:mode", Integer.valueOf(oct("2755")))
    // `mkdirs` and `create` drop the sticky bit with the umask, so only a
    // direct `setPermission` passes it
    val sticky = new FsPermission(oct("1755").toShort)
    for ((name, fs) <- Seq("hadoop" -> hadoopLocal, "localfs" -> localFs("/tmp"))) {
      assert(fs.mkdirs(new Path(s"$root/$name/sticky")))
      fs.setPermission(new Path(s"$root/$name/sticky"), sticky)
      assert(fs.mkdirs(new Path(s"$root/$name/plain")))
    }
    for (name <- Seq("hadoop", "localfs")) {
      // the sticky bit is set, and the inherited set-group-ID is kept
      assert(mode(s"$root/$name/sticky") == oct("3755"), name)
      assert(mode(s"$root/$name/plain") == oct("2755"), name)
    }
  }

  test("the validation path on a file: dir starts no process") {
    val docs = {
      val dir = Files.createTempDirectory("graft_scan").toString
      DocsGen.docs(spark, DocsGen.Knobs(nDocs = 2000, nParts = 6,
        badKindPerMille = 20)).write.mode("overwrite").partitionBy("part").parquet(dir)
      spark.read.parquet(dir)
    }
    val out = Files.createTempDirectory("graft_nofork").toString
    val rule = Rule.Check(Keywords(required = List("doc_id", "spans")))
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val (commits, rows) =
      try {
        ResumableValidate.run(spark, docs, rule, out, partsPerBatch = 4)
        (CommitLog.read(out, spark.sparkContext.hadoopConfiguration),
          ResumableValidate.violations(spark, out).count())
      } finally rec.stop()
    val dump = Files.createTempFile("graft_nofork", ".jfr")
    rec.dump(dump)
    rec.close()
    val started = RecordingFile.readAllEvents(dump).asScala
      .map(_.getString("command"))
    assert(commits.size == 6 && rows > 0)
    assert(started.isEmpty, started.mkString("\n"))
  }
}
