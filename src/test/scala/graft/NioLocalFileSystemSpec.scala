package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

/** [[NioLocalFileSystem]]: the session's `file:` scheme resolves to it,
  * it sets modes exactly as Hadoop names them without forking `chmod`,
  * and checkpoint files written through Spark's checkpoint file manager
  * keep the modes they had before (644 files in 755 directories). */
class NioLocalFileSystemSpec extends SparkSpec {

  private def hadoopConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sessionState.newHadoopConf()

  private def withTmp[A](f: java.nio.file.Path => A): A = {
    val dir = Files.createTempDirectory("graft_niofs_")
    try f(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the session resolves file: to NioLocalFileSystem") {
    assert(FileSystem.get(new java.net.URI("file:///"), hadoopConf)
      .isInstanceOf[NioLocalFileSystem])
    assert(new Path("file:///tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
  }

  test("setPermission sets each mode exactly as FsPermission names it") {
    withTmp { dir =>
      val fs = FileSystem.get(new java.net.URI("file:///"), hadoopConf)
      for (m <- Seq("0000", "0600", "0644", "0700", "0755", "0777")) {
        val f = Files.createFile(dir.resolve(s"f$m"))
        val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
        fs.setPermission(new Path(f.toUri), perm)
        assert(mode(f) === perm.toString, s"mode $m")
      }
    }
  }

  test("a sticky-bit mode takes Hadoop's own chmod path") {
    withTmp { dir =>
      val fs = FileSystem.get(new java.net.URI("file:///"), hadoopConf)
      val d = Files.createDirectory(dir.resolve("sticky"))
      fs.setPermission(new Path(d.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
      // java.nio has no sticky bit: only a real chmod sets 01000
      assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)) ===
        Integer.parseInt("1777", 8))
    }
  }

  test("a checkpoint file written through the checkpoint file manager is 644 in a 755 directory") {
    withTmp { dir =>
      val ckpt = new Path(dir.resolve("ckpt").toUri)
      val fm = CheckpointFileManager.create(ckpt, hadoopConf)
      assert(fm.isInstanceOf[FileSystemBasedCheckpointFileManager])
      val out = fm.createAtomic(new Path(ckpt, "offsets/0"), overwriteIfPossible = false)
      out.write("v1".getBytes("UTF-8"))
      out.close()
      assert(mode(Paths.get(dir.toString, "ckpt", "offsets", "0")) === "rw-r--r--")
      assert(mode(Paths.get(dir.toString, "ckpt", "offsets")) === "rwxr-xr-x")
      assert(mode(Paths.get(dir.toString, "ckpt")) === "rwxr-xr-x")
    }
  }
}
