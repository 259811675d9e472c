package graft

import java.io.File
import java.nio.file.Paths

/** [[StageMemo]] entries are per session: a stopped session must leave
  * neither memoized stages nor build-ledger lines behind. The shared test
  * session cannot be stopped, so the check runs in a forked JVM with this
  * suite's classpath. */
class StageMemoSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("a stopped session leaves no buildLog keys") {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toFile
    assume(java.canExecute, "needs a forkable JVM")
    val log = File.createTempFile("graft-memo-evict", ".log")
    val pb = new ProcessBuilder(java.toString, "-Xmx1g", "-cp",
      sys.props("java.class.path"), "graft.StageMemoEvictionProbe")
    pb.environment().put("SPARK_GRAFT_CPUS", "1")
    pb.environment().remove("SPARK_GRAFT_MASTER")
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val rc = pb.start().waitFor()
    val out = scala.io.Source.fromFile(log).getLines().toList
    log.delete()
    assert(rc === 0, out.takeRight(20).mkString("\n"))
    assert(out.find(_.startsWith("built ")) === Some("built 2, after stop 0"))
  }
}

/** Forked by [[StageMemoSpec]]: build one frame and one value memo, stop
  * the session, report the ledger size before and after. */
object StageMemoEvictionProbe {
  def main(args: Array[String]): Unit = {
    val s = Graft.session("graft-memo-evict")
    StageMemo.frame(s, "probe.frame")(s.range(3).toDF("id"))
    StageMemo.value(s, "probe.value")("v")
    val built = StageMemo.buildSeconds(s).size
    s.stop()
    println(s"built $built, after stop ${StageMemo.buildSeconds(s).size}")
  }
}
