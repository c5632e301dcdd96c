package graft

import java.nio.file.Paths

/** Launches a `main` of this build in a second JVM, for tests whose
  * subject is process-wide: another process's locks, or state a JVM
  * fixes once (Spark's codegen cache). The classpath (graft main + test
  * classes, scala-library, and the directory holding the spark/hadoop
  * jars, as a wildcard) is resolved from THIS JVM's loaded classes, not
  * hardcoded paths.
  */
object ChildJvm {
  private def codeLocation(c: Class[_]): String =
    Paths.get(c.getProtectionDomain.getCodeSource.getLocation.toURI).toString

  private val classpath: String = Seq(
    codeLocation(Engine.getClass),
    codeLocation(ChildJvm.getClass),
    codeLocation(classOf[scala.Option[_]]),
    Paths.get(codeLocation(classOf[org.apache.hadoop.conf.Configuration]))
      .getParent.toString + "/*"
  ).mkString(java.io.File.pathSeparator)

  // Spark-in-child needs the same JDK17 module opens build.sbt forks with
  private val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Starts `main(args)` with a 2 GB heap, stdout and stderr to `log`. */
  def launch(main: String, args: Seq[String], log: java.io.File): Process = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin) ++ jdk17AddOpens ++ Seq("-Xmx2g", "-cp", classpath, main) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.to(log))
    pb.start()
  }
}
