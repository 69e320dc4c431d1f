package ifritbench

/** What one op reports: which item of the workload's fixed set it ran, its
  * wall time, whether it succeeded, and the material its output is checked
  * with once timing is over.
  */
final case class Op(item: Int, nanos: Long, ok: Boolean, check: Map[String, Any] = Map.empty)

/** The closed loop every workload runs: one client issues the next op only
  * after the previous one has returned. Ops come in passes; a pass visits
  * each item of the workload's fixed set once, in an order drawn from the
  * seed. Windows always end on a pass boundary, so every item has run the
  * same number of times in a window.
  */
final class Loop(items: Int, seed: Long) {
  private val rnd = new scala.util.Random(seed)
  private var next = 0

  /** Ops this loop has run so far, over all its windows. */
  def opsRun: Int = next

  /** Run whole passes until `seconds` have elapsed or `maxOps` ops have run.
    * `runOp(item, n)` runs item `item` as the loop's `n`-th op overall. With
    * a `canary`, the machine's speed is sampled between ops once `canaryEveryS`
    * seconds have passed since the last sample.
    */
  def window(seconds: Double, maxOps: Int = Int.MaxValue, canary: Option[Canary] = None,
      canaryEveryS: Double = 0.5)(runOp: (Int, Int) => Op): Loop.Window = {
    val ops = Vector.newBuilder[Op]
    val passes = Vector.newBuilder[Long]
    val samples = Vector.newBuilder[Double]
    val t0 = System.nanoTime()
    var lastCanary = 0L
    var count = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds && count + items <= maxOps) {
      var inPass = 0L
      rnd.shuffle((0 until items).toVector).foreach { item =>
        canary.filter(_ => System.nanoTime() - lastCanary > canaryEveryS * 1e9).foreach { c =>
          samples += c.sample()
          lastCanary = System.nanoTime()
        }
        val op = runOp(item, next)
        next += 1
        inPass += op.nanos
        ops += op
      }
      count += items
      passes += inPass
    }
    Loop.Window(ops.result(), passes.result(), samples.result())
  }
}

object Loop {

  /** The ops of one window, each pass's time spent in ops, and the canary
    * samples taken between ops.
    */
  final case class Window(ops: Vector[Op], passNanos: Vector[Long], canary: Vector[Double]) {

    /** How much slower than the reference speed the machine ran during the
      * window: the canary's mean time over [[CanaryReferenceS]]. Samples are
      * evenly spaced in time, so the mean weighs a slow spell by how long it
      * lasted, as the window's own times do.
      */
    def slowdown: Double = canary.sum / canary.size / CanaryReferenceS
    def opNanos: Long = ops.map(_.nanos).sum
    def failed: Int = ops.count(!_.ok)

    /** Ops completed per second spent in ops: the benchmark's checks between
      * ops are not counted, so they cannot move the figure.
      */
    def throughput: Double = ops.size / (opNanos / 1e9)

    def latencyUs(q: Double): Double = quantile(ops.map(_.nanos.toDouble), q) / 1e3

    /** The geometric mean over the workload's items of each item's median
      * latency: every item weighs the same, however many ops the window ran
      * and whichever item ranks at a percentile's cut.
      */
    def itemGeomeanUs: Double = {
      val medians = ops.groupBy(_.item).values.map(os => quantile(os.map(_.nanos.toDouble), 0.5))
      math.exp(medians.map(math.log).sum / medians.size) / 1e3
    }
    def passMedianS: Double = quantile(passNanos.map(_.toDouble), 0.5) / 1e9
  }

  /** The [[Canary]]'s time on a quiet 4-vCPU x86-64 VM (JDK 17): the speed
    * the reported times are scaled to.
    */
  val CanaryReferenceS = 0.012

  /** Linear-interpolated quantile, as `numpy.quantile` computes it by default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}
