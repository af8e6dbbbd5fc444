package graft.mr

import java.util.concurrent.TimeUnit
import org.scalatest.funsuite.AnyFunSuite

/** Boots [[ClusterParity]] in its own JVM (one SparkContext per JVM —
  * the shared suite session owns this one's) and asserts the
  * local-cluster word_count run, native AND pipe, matched the
  * reference golden across real executor-process boundaries.
  * ClusterParity reads the reference's input, golden and `exec/`
  * scripts, so the test is ignored where [[ReferenceData]] is absent. */
class MrClusterSpec extends AnyFunSuite with ReferenceData {

  refTest("word_count parity survives real executor JVMs (local-cluster[2,2,1024])") {
    val out = java.nio.file.Files.createTempDirectory("graft-cluster").toString
    val javaBin = sys.props("java.home") + "/bin/java"
    val opens = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split(" ").toSeq
    val cmd = Seq(javaBin) ++ opens ++ Seq(
      "-Xmx1g", "-cp", sys.props("java.class.path"),
      "graft.mr.ClusterParity", out)
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_HOME", "/opt/spark")
    // the launcher's getScalaVersion probes launcher/target build dirs
    // when this is unset — a bare jars-only distribution has none and
    // executor launch dies with "Cannot find any build directories"
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    val p = pb.start()
    // drain concurrently — a filled pipe buffer would deadlock the child
    val log = new StringBuilder
    val drainer = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = r.readLine()
      while (l != null) { log.synchronized(log.append(l).append('\n')); l = r.readLine() }
    })
    drainer.setDaemon(true)
    drainer.start()
    val finished = p.waitFor(300, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    drainer.join(5000)
    val logStr = log.synchronized(log.toString)
    assert(finished, s"cluster run timed out:\n${logStr.takeRight(4000)}")
    assert(p.exitValue() === 0, s"cluster run failed:\n${logStr.takeRight(4000)}")
    assert(logStr.contains("PARITY_OK native"), logStr.takeRight(2000))
    assert(logStr.contains("PARITY_OK pipe"), logStr.takeRight(2000))
  }
}
