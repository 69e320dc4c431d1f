package graft

/** Run a `main` of this project in a fresh JVM on the test class path,
  * with the JDK 17 module flags Spark needs outside spark-submit, and
  * return its exit code with its merged stdout and stderr.
  */
object ChildJvm {
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def run(
      mainClass: String,
      args: Seq[String],
      jvmOptions: Seq[String],
      env: Map[String, String] = Map.empty,
  ): (Int, String) = {
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ addOpens ++
      jvmOptions ++ Seq("-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    val out = new StringBuilder
    val rd = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
    Iterator.continually(rd.readLine()).takeWhile(_ != null)
      .foreach(l => out.append(l).append('\n'))
    (proc.waitFor(), out.toString)
  }
}
