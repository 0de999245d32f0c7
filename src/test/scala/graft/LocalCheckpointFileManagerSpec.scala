package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LocalCheckpointFileManager
import graft.queries.Scratch

/** The fork-free checkpoint manager keeps the commit contract of
  * Spark's default one: atomic publish with the `.crc` sidecar,
  * cancel leaves nothing, no silent overwrite, the same permission
  * bits — and it refuses checkpoints off the local file system.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def scratch(): java.nio.file.Path = Paths.get(Scratch.dir("graft_cfm_"))

  private def manager(dir: java.nio.file.Path) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def listing(dir: java.nio.file.Path): Set[String] = {
    val ls = Files.list(dir)
    try ls.map(_.getFileName.toString).toArray.map(_.toString).toSet
    finally ls.close()
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = true): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  test("createAtomic then close publishes the file together with its .crc") {
    val dir = scratch()
    val out = manager(dir).createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write("offsets".getBytes(UTF_8))
    assert(!listing(dir).contains("1"), "file visible before close")
    out.close()
    assert(listing(dir) == Set("1", ".1.crc"), s"after close: ${listing(dir)}")
    assert(new String(Files.readAllBytes(dir.resolve("1")), UTF_8) == "offsets")
  }

  test("cancel leaves neither the file nor its temp") {
    val dir = scratch()
    val out = manager(dir).createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write("offsets".getBytes(UTF_8))
    out.cancel()
    assert(listing(dir).isEmpty, s"after cancel: ${listing(dir)}")
  }

  test("overwriteIfPossible=false on an existing path throws FileAlreadyExistsException") {
    val dir = scratch()
    val fm = manager(dir)
    val p = new Path(dir.resolve("1").toUri)
    write(fm, p, "first")
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(new String(Files.readAllBytes(dir.resolve("1")), UTF_8) == "first")
  }

  test("permission bits equal what Spark's default manager writes") {
    def modes(fm: java.nio.file.Path => CheckpointFileManager): Map[String, String] = {
      val dir = scratch()
      val m = fm(dir)
      m.mkdirs(new Path(dir.resolve("offsets").toUri))
      write(m, new Path(dir.resolve("offsets/0").toUri), "v1")
      Seq("offsets", "offsets/0", "offsets/.0.crc").map { rel =>
        rel -> java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(dir.resolve(rel)))
      }.toMap
    }
    val sparkDefault = modes(dir => CheckpointFileManager.create(new Path(dir.toUri), conf))
    assert(sparkDefault.keySet == Set("offsets", "offsets/0", "offsets/.0.crc"))
    assert(modes(manager) == sparkDefault)
  }

  test("a non-file: checkpoint path is rejected") {
    val e = intercept[IllegalArgumentException](
      new LocalCheckpointFileManager(new Path("hdfs://namenode/ckpt"), conf))
    assert(e.getMessage.contains("hdfs://namenode/ckpt"))
    // an unqualified path takes the default file system, file: here
    new LocalCheckpointFileManager(new Path(Paths.get(
      System.getProperty("java.io.tmpdir")).toString), conf)
  }
}
