package graft

import java.io.FileNotFoundException
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, FileContext, FsConstants, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EventTime, LocalFs}

/** `ops.LocalFs`, the replay clone's local `FileContext` file system: it
  * leaves the same permissions, statuses and checkpoint files as Hadoop's
  * stock one, and a warm replay build forks no process through it.
  */
class LocalFsSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def replayConf: Configuration =
    EventTime.replaySession(spark).sessionState.newHadoopConf()

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-localfs")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Stock `RawLocalFileSystem` and `LocalFs`'s subclass of it. */
  private def stockAndOurs: Seq[RawLocalFileSystem] =
    Seq(new RawLocalFileSystem, new LocalFs.NoForkFileSystem).map { f =>
      f.initialize(FsConstants.LOCAL_FS_URI, new Configuration())
      f
    }

  test("the replay clone's FileContext resolves file: to the checksummed LocalFs") {
    val afs = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, replayConf).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFs])
    assert(afs.isInstanceOf[ChecksumFs])
  }

  test("setPermission leaves the POSIX bits stock RawLocalFileSystem leaves") {
    withDir { dir =>
      for (mode <- Seq("644", "755", "700", "600"); kind <- Seq("file", "dir")) {
        val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
        val bits = stockAndOurs.map { f =>
          val p = dir.resolve(s"$kind-$mode-${f.getClass.getSimpleName}")
          if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
          f.setPermission(new Path(p.toUri), perm)
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
        }
        assert(bits(0) == bits(1), s"$kind $mode")
        assert(bits(1) == perm.toString, s"$kind $mode")
      }
    }
  }

  test("getFileLinkStatus matches the stock status, and a missing path is not found") {
    val Seq(stock, ours) = stockAndOurs
    withDir { dir =>
      val file = dir.resolve("f")
      Files.write(file, Array.fill[Byte](17)(1))
      for (p <- Seq(file, dir).map(x => new Path(x.toUri))) {
        val (a, b) = (stock.getFileLinkStatus(p), ours.getFileLinkStatus(p))
        assert((a.isFile, a.isDirectory, a.getLen) == (b.isFile, b.isDirectory, b.getLen), p)
        assert(!b.isSymlink)
      }
      assert(ours.getFileLinkStatus(new Path(file.toUri)).getLen == 17)
      intercept[FileNotFoundException](ours.getFileLinkStatus(new Path(dir.resolve("none").toUri)))
    }
  }

  test("an atomic checkpoint write leaves the stock file and its checksum") {
    withDir { dir =>
      val listings = Seq(new Configuration() -> "stock", replayConf -> "replay").map {
        case (conf, side) =>
          val root = new Path(dir.resolve(side).toUri)
          val cfm = CheckpointFileManager.create(root, conf)
          cfm.mkdirs(root)
          val out = cfm.createAtomic(new Path(root, "0"), overwriteIfPossible = false)
          out.write("v1\n{}".getBytes("UTF-8"))
          out.close()
          assert(new String(Files.readAllBytes(dir.resolve(side).resolve("0")), "UTF-8") == "v1\n{}")
          dir.resolve(side).toFile.list.sorted.toSeq
      }
      assert(listings(0) == Seq(".0.crc", "0"))
      assert(listings(1) == listings(0))
    }
  }

  // Hadoop's Shell starts one stderr-reader thread per forked command, so
  // started threads bound the forks without reading /proc. Through the
  // stock local file system every warm build started 462 and 116 threads;
  // the median of three drops a one-off growth of Spark's cached pools.
  Seq("stream_replay_dedup_within_wm" -> 100, "stream_replay_upsert" -> 40).foreach {
    case (name, bound) =>
      test(s"a warm $name build starts at most $bound threads") {
        val threads = ManagementFactory.getThreadMXBean
        def build(): Unit = SparkEntry.queries(name)(spark, TestSpark.Sf0001).collect()
        build()
        build()
        val started = (1 to 3).map { _ =>
          val before = threads.getTotalStartedThreadCount
          build()
          threads.getTotalStartedThreadCount - before
        }
        assert(started.sorted.apply(1) <= bound, s"warm builds started ${started.mkString(", ")} threads")
      }
  }
}
