package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath}
import graft.fs.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import graft.sources.{Bookkeeping, Landing}
import graft.streaming.StreamingIngest
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The fork-free local filesystem ([[graft.fs.ForkFreeLocalFs]]) against
  * Hadoop's own: the same permissions and link statuses, bound in every
  * session Hadoop conf, and no `chmod` or `readlink` fork on the sink's or
  * the layered artifacts' write path. */
class LocalFsSpec extends SparkSpec {

  private def tmp(prefix: String): JPath = Tables.scratchDir(prefix)

  /** Hadoop's `file:` filesystem and the fork-free one under one conf. */
  private def pair(umask: String): Seq[(String, FileSystem)] = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    Seq("hadoop" -> new LocalFileSystem, "forkfree" -> new ForkFreeLocalFileSystem)
      .map { case (n, fs) => fs.initialize(java.net.URI.create("file:///"), conf); n -> fs }
  }

  /** Permission bits with the setuid/setgid/sticky bits. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): FsPermission = new FsPermission(Integer.parseInt(s, 8).toShort)

  test("created files, their .crc and mkdirs'd dirs get Hadoop's permissions under the same umask") {
    for (umask <- Seq("022", "027", "077")) {
      val modes = pair(umask).map { case (name, fs) =>
        val root = tmp(s"graft_fs_perm_$name")
        val dir = new Path(root.toUri.toString + "/a/b")
        fs.mkdirs(dir)
        fs.create(new Path(dir, "f")).close()
        fs.mkdirs(new Path(dir, "g"), octal("750"))
        fs.create(new Path(dir, "h")).close()
        fs.setPermission(new Path(dir, "h"), octal("640"))
        Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "a/b/g", "a/b/h")
          .map(rel => rel -> mode(root.resolve(rel)))
      }
      assert(modes.head == modes(1), s"umask $umask")
    }
  }

  test("a sticky bit takes Hadoop's own chmod and lands the same mode") {
    val modes = pair("022").map { case (name, fs) =>
      val dir = tmp(s"graft_fs_sticky_$name")
      fs.setPermission(new Path(dir.toUri), octal("1777"))
      mode(dir)
    }
    assert(modes == Seq(0x3ff, 0x3ff)) // 01777
  }

  test("getFileLinkStatus matches Hadoop's for a plain file, a symlink and a missing path") {
    val root = tmp("graft_fs_link")
    val file = Files.writeString(root.resolve("file"), "x")
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val Seq(hadoop, forkFree) = pair("022").map(_._2)
    for (p <- Seq(file, link).map(q => new Path(q.toUri))) {
      def view(fs: FileSystem) = {
        val st = fs.getFileLinkStatus(p)
        (st.getPath, st.isSymlink, st.isDirectory, st.getLen,
          if (st.isSymlink) Some(st.getSymlink) else None)
      }
      assert(view(forkFree) == view(hadoop), p)
    }
    val missing = new Path(root.resolve("missing").toUri)
    intercept[FileNotFoundException](hadoop.getFileLinkStatus(missing))
    intercept[FileNotFoundException](forkFree.getFileLinkStatus(missing))
  }

  test("a session's Hadoop conf resolves file: to the fork-free FileSystem and AbstractFileSystem") {
    val dir = new Path(tmp("graft_fs_bind").toUri)
    assert(ForkFreeLocalFs.of(spark, dir).isInstanceOf[ForkFreeLocalFileSystem])
    val conf = spark.sessionState.newHadoopConf()
    assert(AbstractFileSystem.get(dir.toUri, conf).isInstanceOf[ForkFreeLocalFs])
    // FileContext writes keep their checksums
    val fc = FileContext.getFileContext(dir.toUri, conf)
    fc.create(new Path(dir, "f"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
    assert(Files.exists(java.nio.file.Paths.get(dir.toUri).resolve(".f.crc")))
  }

  test("no chmod or readlink fork: a landStream batch with every callback and a publishLayer") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val out = tmp("graft_nofork_out").toString
    val url = Bookkeeping.derbyUrl(s"${tmp("graft_nofork_derby")}/bk")
    val server = com.sun.net.httpserver.HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    val tbl = "graft_landed_nofork"
    val rec = new Recording()
    val file = Tables.scratchFile("graft_nofork", ".jfr")
    try {
      Landing.createPartitionedTable(spark, tbl,
        StreamingIngest.enriched(spark, sf).schema, Seq("logdate"), out)
      rec.enable("jdk.ProcessStart")
      rec.start()
      val report = StreamingIngest.landStream(spark, sf, out, tmp("graft_nofork_ckpt").toString,
        StreamingIngest.LandingCallbacks(
          catalogTable = Some(tbl), jdbcUrl = Some(url),
          notifyUrl = Some(s"http://localhost:${server.getAddress.getPort}"),
          completeness = Some(new graft.streaming.CompletenessListener(300L)(_ => ()))))
      assert(report.logdates.nonEmpty)
      graft.operators.VersionedLayers.publishLayer(spark,
        tmp("graft_nofork_layers").toString, "base", spark.range(10).toDF("id"))
      // a known fork, so a recorder that sees nothing fails the spec
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      rec.dump(file)
    } finally {
      rec.close()
      server.stop(0)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
    val programs = RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => e.getString("command").split(" ").head.split("/").last)
    assert(programs.contains("true"), s"the recording missed a fork: $programs")
    val forks = programs.filter(Set("chmod", "readlink"))
    assert(forks.isEmpty, s"${forks.size} forks: ${forks.groupBy(identity).view.mapValues(_.size).toMap}")
  }
}
