package graft.io

import graft.{SparkSpec, SpawnProbe}
import graft.streaming.EventStreams
import java.net.URI
import java.nio.file.Files
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._
import scala.util.Try

object LocalFsSpec {
  /** The stock `file:` binding, spelled the way the streaming start
    * spells the fork-free one. */
  val stockBinding: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[org.apache.hadoop.fs.local.LocalFs].getName)
}

/** The fork-free `file:` filesystem answers as the stock one does:
  * permission bits, link statuses, and a streaming ledger's checkpoint
  * files and rows. */
class LocalFsSpec extends SparkSpec {
  import LocalFsSpec.stockBinding

  private val root = URI.create("file:///")

  private def conf(binding: Seq[(String, String)], umask: String): Configuration = {
    val c = new Configuration()
    binding.foreach { case (k, v) => c.set(k, v) }
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  test("the binding selects the fork-free classes on both Hadoop APIs") {
    val c = conf(ForkFreeLocalFs.confs, "022")
    assert(FileSystem.get(root, c).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(root, c).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
    assert(!FileSystem.get(root, conf(stockBinding, "022"))
      .isInstanceOf[ForkFreeLocalFileSystem])
  }

  /** Modes of what `FileSystem` and `FileContext` create and make, their
    * checksum files included. */
  private def createdModes(c: Configuration): Seq[Int] = {
    val dir = Files.createTempDirectory("localfs_perm")
    val base = new Path(dir.toUri)
    val fs = FileSystem.get(root, c)
    val fc = FileContext.getFileContext(root, c)
    fs.create(new Path(base, "fs_file")).close()
    fs.mkdirs(new Path(base, "fs_dir/sub"),
      FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(c)))
    fc.create(new Path(base, "fc_file"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.mkdir(new Path(base, "fc_dir/sub"), FsPermission.getDirDefault, true)
    Seq("fs_file", ".fs_file.crc", "fs_dir", "fs_dir/sub",
      "fc_file", ".fc_file.crc", "fc_dir", "fc_dir/sub").map(n => mode(dir.resolve(n)))
  }

  test("create and mkdirs leave the stock permission bits under two umasks") {
    val byUmask = Seq("022", "077").map { umask =>
      val stock = createdModes(conf(stockBinding, umask))
      assert(createdModes(conf(ForkFreeLocalFs.confs, umask)) == stock,
        s"umask $umask")
      stock
    }
    assert(byUmask.distinct.size == 2, "the umask changed no bit")
  }

  test("a sticky bit falls back to the stock chmod; other bits spawn nothing") {
    def chmod(binding: Seq[(String, String)], bits: Int): (Int, Int) = {
      val dir = Files.createTempDirectory("localfs_sticky")
      val fs = FileSystem.get(root, conf(binding, "022"))
      val (_, spawns) = SpawnProbe.record(
        fs.setPermission(new Path(dir.toUri), new FsPermission(bits.toShort)))
      (mode(dir), spawns.size)
    }
    val sticky = Integer.parseInt("1755", 8)
    val plain = Integer.parseInt("750", 8)
    assert(chmod(ForkFreeLocalFs.confs, sticky)._1 == sticky)
    assert(chmod(stockBinding, sticky)._1 == sticky)
    assert(chmod(ForkFreeLocalFs.confs, sticky)._2 > 0, "sticky bit not sent to chmod")
    assert(chmod(ForkFreeLocalFs.confs, plain) == ((plain, 0)))
  }

  private def fields(s: FileStatus): Seq[Any] = Seq(s.getPath, s.getLen,
    s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else "",
    s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
    s.getGroup, s.getReplication, s.getBlockSize)

  test("getFileLinkStatus answers as the stock one on both Hadoop APIs") {
    val dir = Files.createTempDirectory("localfs_link")
    Files.write(dir.resolve("file"), "abc".getBytes("UTF-8"))
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("nowhere"))
    val names = Seq("file", "dir", "link", "dangling", "missing")
    def statuses(binding: Seq[(String, String)]): Seq[Either[String, Seq[Any]]] = {
      val c = conf(binding, "022")
      val fs = FileSystem.get(root, c)
      val fc = FileContext.getFileContext(root, c)
      // a scheme-qualified path too: the stock code then runs `readlink`
      // on the URI text and never sees a link, which must also hold here
      for {
        n <- names
        p <- Seq(new Path(dir.resolve(n).toString), new Path(dir.resolve(n).toUri))
        get <- Seq(() => fs.getFileLinkStatus(p), () => fc.getFileLinkStatus(p))
      } yield Try(fields(get())).toEither.left.map(_.getClass.getName)
    }
    val stock = statuses(stockBinding)
    assert(statuses(ForkFreeLocalFs.confs) == stock)
    // the fixture covers what it names: link answers and missing paths
    assert(stock.exists(_.exists(_(3) == true)), stock)
    assert(stock.takeRight(4).forall(_ ==
      Left(classOf[java.io.FileNotFoundException].getName)), stock)
  }

  /** A two-run dedup ledger under `binding`: its checkpoint file list
    * (relative paths, `.crc` files included) and its ledger rows. */
  private def ledgerRuns(tag: String,
      binding: Seq[(String, String)]): (Seq[String], Seq[String]) = {
    import spark.implicits._
    val landing = Files.createTempDirectory(s"localfs_land_$tag").toString
    val ckpt = Files.createTempDirectory(s"localfs_ckpt_$tag")
    val ledger = s"localfs.ledger_$tag"
    spark.sql("CREATE DATABASE IF NOT EXISTS localfs")
    spark.sql(s"DROP TABLE IF EXISTS $ledger")
    Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    def run(): Unit = EventStreams.localFsBinding.withValue(binding)(
      EventStreams.streamingDedupLedger(spark, landing, schema, ledger,
        ckpt.toString, "doc_id", "text"))
    run()
    Seq((4L, "a b c d e"), (5L, "p q r s t"), (6L, "p q r s t"))
      .toDF("doc_id", "text").write.mode("append").parquet(landing)
    run()
    val files = Files.walk(ckpt).iterator().asScala.filter(Files.isRegularFile(_))
      .map(ckpt.relativize(_).toString).toSeq.sorted
    (files, spark.table(ledger).collect().map(_.toString).toSeq.sorted)
  }

  test("a two-run streaming ledger writes the stock checkpoint files and rows") {
    val (stockFiles, stockRows) = ledgerRuns("stock", stockBinding)
    val (files, rows) = ledgerRuns("forkfree", ForkFreeLocalFs.confs)
    assert(files == stockFiles)
    assert(rows == stockRows)
    assert(files.exists(_.endsWith(".crc")) && files.contains("commits/1"), files)
    assert(rows.size == 24, rows) // 6 docs x 4 bands
  }
}
