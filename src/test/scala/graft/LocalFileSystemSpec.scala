package graft

import java.io.{File, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, FileContext, FileStatus,
  FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{col, date_add, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, Staging}

/** The session's local filesystem: no process forks, the same files.
  * Every `file:` write goes through [[NioLocalFileSystem]] (FileSystem) or
  * [[NioLocalFs]] (FileContext), which set modes with NIO, not `chmod`,
  * and keep Hadoop's `.crc` checksums; a partitioned store is listed on
  * the driver.
  */
class LocalFileSystemSpec extends AnyFunSuite with SparkFixture {

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  private def withDir(name: String)(body: File => Unit): Unit = {
    val dir = Files.createTempDirectory(name).toFile
    try body(dir) finally Staging.deleteRecursively(dir)
  }

  private def mode(f: File): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  test("the session's file: FileSystem and AbstractFileSystem are the NIO classes") {
    assert(FileSystem.get(URI.create("file:///"), conf).getClass === classOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(URI.create("file:///"), conf).getClass === classOf[NioLocalFs])
  }

  test("setPermission sets the mode bits Hadoop's chmod sets") {
    withDir("graft_fsperm") { dir =>
      val nio = new NioRawLocalFileSystem
      val chmod = new RawLocalFileSystem
      Seq(nio, chmod).foreach(_.initialize(URI.create("file:///"), new Configuration()))
      for (m <- Seq("644", "755", "600", "700", "751", "444", "000", "777")) {
        val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
        val a = new File(dir, s"nio_$m"); val b = new File(dir, s"chmod_$m")
        Seq(a, b).foreach(_.createNewFile())
        nio.setPermission(new Path(a.getPath), perm)
        chmod.setPermission(new Path(b.getPath), perm)
        assert(mode(a) === mode(b), m)
        assert(mode(a) === perm.toString, m)
      }
    }
  }

  test("a partitioned write leaves files at 0644, directories at 0755, each with a .crc twin") {
    withDir("graft_fsmode") { dir =>
      val out = new File(dir, "store")
      spark.range(0, 400, 1, 4)
        .withColumn("d", date_add(lit("2024-01-01").cast("date"), (col("id") % 5).cast("int")))
        .write.partitionBy("d").parquet(out.getPath)
      val all = Files.walk(out.toPath).iterator.asScala.map(_.toFile).toSeq
      val (dirs, files) = all.partition(_.isDirectory)
      assert(dirs.length === 6) // the store and its five dates
      dirs.foreach(d => assert(mode(d) === "rwxr-xr-x", d))
      files.foreach(f => assert(mode(f) === "rw-r--r--", f))
      val data = files.filterNot(_.getName.startsWith("."))
      assert(data.count(_.getName.startsWith("part-")) >= 5)
      data.foreach(f => assert(new File(f.getParentFile, s".${f.getName}.crc").isFile, f))
    }
  }

  test("a byte flipped in a written parquet file fails the read with a ChecksumException") {
    withDir("graft_fscrc") { dir =>
      val out = new File(dir, "t")
      spark.range(0, 5000, 1, 1).selectExpr("id", "id * 7 AS v").write.parquet(out.getPath)
      val part = out.listFiles().filter(f => f.getName.startsWith("part-")).head
      val raf = new RandomAccessFile(part, "rw")
      try { raf.seek(4); val b = raf.read(); raf.seek(4); raf.write(b ^ 0xff) }
      finally raf.close()
      val e = intercept[Exception](spark.read.parquet(out.getPath).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(_.isInstanceOf[ChecksumException]), e)
    }
  }

  test("link status and a FileContext rename behave as Hadoop's") {
    withDir("graft_fslink") { dir =>
      val nio = new NioRawLocalFileSystem
      val hadoop = new RawLocalFileSystem
      Seq(nio, hadoop).foreach(_.initialize(URI.create("file:///"), new Configuration()))
      val file = new File(dir, "f"); Files.writeString(file.toPath, "x")
      val link = new File(dir, "l"); Files.createSymbolicLink(link.toPath, file.toPath)
      val dangling = new File(dir, "d")
      Files.createSymbolicLink(dangling.toPath, new File(dir, "gone").toPath)
      def shape(s: FileStatus) =
        (s.isSymlink, s.isDirectory, s.getLen, if (s.isSymlink) s.getSymlink.toString else "")
      for (p <- Seq(file, link, dangling, dir).map(f => new Path(f.getPath))) {
        assert(shape(nio.getFileLinkStatus(p)) === shape(hadoop.getFileLinkStatus(p)), p)
        if (nio.getFileLinkStatus(p).isSymlink)
          assert(nio.getLinkTarget(p) === hadoop.getLinkTarget(p), p)
      }
      intercept[java.io.FileNotFoundException](nio.getFileLinkStatus(new Path(dir.getPath, "none")))

      // the checkpoint manager's commit: create, then rename over an existing file
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      def write(p: Path, s: String): Unit = {
        val o = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        try o.write(s.getBytes(UTF_8)) finally o.close()
      }
      val (tmp, dst) = (new Path(dir.getPath, "tmp"), new Path(dir.getPath, "commit"))
      write(dst, "old"); write(tmp, "new")
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      assert(Files.readString(Paths.get(dir.getPath, "commit")) === "new")
      assert(new File(dir, ".commit.crc").isFile && !new File(dir, ".tmp.crc").exists)
      assert(mode(new File(dir, "commit")) === "rw-r--r--")
    }
  }

  test("a read of a store with more than 32 date partitions runs no listing job") {
    withDir("graft_fslist") { dir =>
      val out = new File(dir, "store").getPath
      spark.range(0, 400, 1, 4)
        .withColumn("d", date_add(lit("2024-01-01").cast("date"), (col("id") % 40).cast("int")))
        .write.partitionBy("d").parquet(out)
      val seen = jobsSeen(assert(spark.read.parquet(out).count() === 400L))
      assert(seen.nonEmpty)
      assert(!seen.exists(_._1.startsWith("Listing leaf files and directories")), seen)
    }
  }
}
