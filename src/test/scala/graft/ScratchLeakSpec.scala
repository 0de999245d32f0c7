package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Scratch

/** Nothing a run stages outlives its JVM: a forked JVM with its own
  * `java.io.tmpdir` runs the staging rows of [[ScratchLeakChild]] and
  * exits, and no `graft_*` entry may be left in that dir.
  */
class ScratchLeakSpec extends AnyFunSuite {

  test("a JVM that ran staging rows leaves no graft_ entry in java.io.tmpdir") {
    val tmp = new File(Scratch.dir("graft_leakcheck_"))
    val log = new File(Scratch.dir("graft_leakcheck_log_"), "child.log")
    val cmd = ChildJvm.command("graft.ScratchLeakChild", Seq(TestSpark.sf),
      jvmOpts = Seq(s"-Djava.io.tmpdir=$tmp"))
    val p = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(log).start()
    assert(p.waitFor(600, TimeUnit.SECONDS), "child timed out")
    val out = new String(Files.readAllBytes(log.toPath), UTF_8)
    assert(p.exitValue() == 0,
      s"child failed (rc=${p.exitValue()}):\n" + out.linesIterator.toSeq.takeRight(25).mkString("\n"))
    assert(ScratchLeakChild.Queries.forall(q => out.linesIterator.exists(_.startsWith(s"$q "))),
      s"child did not run every row:\n$out")
    val leaked = tmp.list().toSeq.filter(_.startsWith("graft_")).sorted
    assert(leaked.isEmpty, s"left behind in java.io.tmpdir: $leaked")
  }
}
