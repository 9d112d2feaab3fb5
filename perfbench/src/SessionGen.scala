package perfbench

import java.util.Locale

/** Seeded generator of ORC-log session files in the firmware's in-band
  * grammar:
  *
  * {{{
  * Log #: 4821
  * Actuators enabled
  * Interval:0.000282
  * Acceleration, Pitch, Roll
  * 0.1234, 2.0311, -0.4410        (one row per sample, %.4f)
  * Log Paused, now resuming:      (opens the next run)
  * ...
  * }}}
  *
  * One session holds two log blocks, the enabled arm first, each with
  * `runsPerArm` runs of `samplesPerRun` rows. The acceleration is a
  * vibration whose amplitude is planted lower in the enabled arm; pitch
  * and roll are small slow oscillations with noise. The generator keeps
  * the values exactly as a reader parses them back from the text, so
  * every check can be computed from them without the program. */
object SessionGen {
  val Interval = "0.000282"

  final case class Run(acc: Array[Double], pitch: Array[Double], roll: Array[Double])
  final case class Arm(label: String, enabled: Boolean, logId: Int, runs: IndexedSeq[Run])
  final case class Session(text: String, arms: IndexedSeq[Arm]) {
    def rows: Int = arms.map(_.runs.map(_.acc.length).sum).sum
    def runCount: Int = arms.map(_.runs.size).sum
  }

  /** Amplitude of the disabled arm's vibration, in g; the enabled arm's
    * is half of it. */
  val DisabledAmplitude = 0.5

  def generate(seed: Long, index: Int, runsPerArm: Int, samplesPerRun: Int): Session = {
    val rnd = new scala.util.Random(seed * 1000003L + index)
    val sb = new StringBuilder
    def fmt(v: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(v))
    val ids = Iterator.continually(1000 + rnd.nextInt(9000)).distinct
    val arms = IndexedSeq(true, false).map { enabled =>
      val label = if (enabled) "Actuators enabled" else "Actuators disabled"
      val logId = ids.next()
      sb.append(s"Log #: $logId\n").append(label).append('\n')
        .append(s"Interval:$Interval\n")
      val runs = (0 until runsPerArm).map { r =>
        if (r == 0) sb.append("Acceleration, Pitch, Roll\n")
        else sb.append("Log Paused, now resuming:\n")
        val amp = DisabledAmplitude * (if (enabled) 0.5 else 1.0) *
          (0.85 + 0.3 * rnd.nextDouble())
        val period = 30.0 + 20.0 * rnd.nextDouble()
        val phase = 2 * math.Pi * rnd.nextDouble()
        val pitch0 = 4 * rnd.nextDouble() - 2
        val roll0 = 4 * rnd.nextDouble() - 2
        val acc = new Array[Double](samplesPerRun)
        val pitch = new Array[Double](samplesPerRun)
        val roll = new Array[Double](samplesPerRun)
        for (i <- 0 until samplesPerRun) {
          val a = fmt(amp * math.sin(2 * math.Pi * i / period + phase) +
            0.05 * amp * rnd.nextGaussian())
          val p = fmt(pitch0 + 0.5 * math.sin(i / 97.0) + 0.05 * rnd.nextGaussian())
          val q = fmt(roll0 + 0.5 * math.cos(i / 83.0) + 0.05 * rnd.nextGaussian())
          sb.append(a).append(", ").append(p).append(", ").append(q).append('\n')
          acc(i) = a.toDouble; pitch(i) = p.toDouble; roll(i) = q.toDouble
        }
        Run(acc, pitch, roll)
      }
      Arm(label, enabled, logId, runs)
    }
    Session(sb.toString, arms)
  }
}
