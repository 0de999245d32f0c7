package graft

import java.io.File

/** Command line of a forked test-worker JVM: this JVM's `java`, the
  * test classpath (tests fork, so it is the full one), the JDK 17
  * module opens Spark needs when no spark-submit injects them, and the
  * session defaults of build.sbt.
  */
object ChildJvm {

  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def command(mainClass: String, args: Seq[String], jvmOpts: Seq[String] = Nil): Seq[String] = {
    val javaBin = new File(new File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    Seq(javaBin) ++ jdk17AddOpens ++ Seq(
      "-Xmx1500m", "-XX:ReservedCodeCacheSize=128m",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC") ++ jvmOpts ++
      Seq("-cp", sys.props("java.class.path"), mainClass) ++ args
  }
}
