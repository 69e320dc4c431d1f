package ifritbench

import java.io.{BufferedReader, InputStreamReader, PrintStream}
import java.nio.file.Paths
import java.util.concurrent.TimeUnit

/** A fixed piece of JDK-only work, run in a JVM of its own, that times how
  * fast this machine runs allocation- and pointer-heavy code at a given
  * moment. The benchmark samples it between ops while its own thread waits,
  * so the sample shares no heap, collector or threads with the program and
  * a change to the program's allocation or GC cannot move it.
  */
final class Canary private (proc: Process) extends AutoCloseable {
  private val replies = new BufferedReader(new InputStreamReader(proc.getInputStream))
  private val requests = new PrintStream(proc.getOutputStream, true)

  /** Seconds one run of the work took, in the canary's JVM. */
  def sample(): Double = {
    requests.println()
    Option(replies.readLine()).getOrElse(sys.error("the canary JVM exited")).toDouble
  }

  /** Ends the canary's JVM and waits until it has exited. */
  def close(): Unit = {
    requests.close()
    if (!proc.waitFor(10, TimeUnit.SECONDS)) proc.destroyForcibly()
    proc.waitFor()
  }
}

object Canary {

  /** Starts the canary's JVM and runs the work until the JIT has compiled
    * it, so that samples time the machine and not the canary's warm-up.
    */
  def start(): Canary = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder(java, "-Xms256m", "-Xmx256m", "-XX:-UsePerfData",
      "-cp", System.getProperty("java.class.path"), "ifritbench.Canary")
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val c = new Canary(pb.start())
    (1 to 20).foreach(_ => c.sample())
    c
  }

  /** The canary's JVM: one run of the work per line read, its time printed. */
  def main(args: Array[String]): Unit = {
    val in = new BufferedReader(new InputStreamReader(System.in))
    while (in.readLine() != null) {
      System.out.println(seconds())
      System.out.flush()
    }
  }

  /** Boxing, sorting and walking 50k longs. */
  def seconds(): Double = {
    val t0 = System.nanoTime()
    val xs = new java.util.ArrayList[java.lang.Long](50000)
    var x = 88172645463325252L
    while (xs.size < 50000) {
      x ^= x << 13
      x ^= x >>> 7
      x ^= x << 17
      xs.add(java.lang.Long.valueOf(x))
    }
    java.util.Collections.sort(xs)
    var sum = 0L
    xs.forEach(v => sum += v)
    val s = (System.nanoTime() - t0) / 1e9
    if (sum == 0) s + 1e-9 else s
  }
}
