package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.pipelines.{ControlPipeline, RawImuSample}
import graft.state.AhrsSettings

/** Throughput check for the STREAMING stateful path (BASELINE target:
  * sustain >= 3546 rows/s/key through AHRS+PID+transform — 1x the
  * reference's real-time sample rate): drives the
  * flatMapGroupsWithState pipeline through a MemoryStream in
  * micro-batches and reports end-to-end rows/s, in the benchmark's
  * session ([[graft.Bench.benchSession]]).
  *
  * Usage: runMain graft.streaming.StreamingReplayMain [devices] [samplesPerDevice] [batches]
  */
object StreamingReplayMain {
  def main(args: Array[String]): Unit = {
    val nDevices = if (args.length > 0) args(0).toInt else 4
    val perDevice = if (args.length > 1) args(1).toInt else 60000
    val nBatches = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Bench.benchSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dt = 0.000282
    val cfg = ControlPipeline.Config(
      AhrsSettings(recoveryTriggerPeriod = (5.0 / dt).toInt), dt)

    def synth(dev: Long, from: Int, until: Int): Seq[RawImuSample] = {
      val rnd = new scala.util.Random(97 * (dev + 1) + from)
      (from until until).map { i =>
        val az = 8197 + (600 * math.sin(i * 0.01)).toInt + rnd.nextInt(40)
        RawImuSample(s"dev-$dev", i.toLong,
          rnd.nextInt(30).toShort, rnd.nextInt(30).toShort, az.toShort,
          (200 * math.sin(i * 0.003)).toInt.toShort,
          rnd.nextInt(20).toShort, rnd.nextInt(20).toShort)
      }
    }

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawImuSample]
    val q = ControlPipeline.replayStreaming(input.toDS(), cfg)
      .writeStream.format("memory").queryName("ctl_out")
      .outputMode("append").start()
    try {
      val perBatch = perDevice / nBatches
      val t0 = System.nanoTime()
      for (b <- 0 until nBatches) {
        val rows = (0L until nDevices.toLong).flatMap(d =>
          synth(d, b * perBatch, (b + 1) * perBatch))
        input.addData(rows)
        q.processAllAvailable()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val total = nDevices.toLong * perBatch * nBatches
      val outs = spark.table("ctl_out").count()
      println(f"streamed $total rows across $nDevices keys in $nBatches " +
        f"micro-batches: $secs%.2f s = ${total / secs}%.0f rows/s " +
        f"(${total / secs / nDevices}%.0f rows/s/key; target 3546); " +
        s"outputs=$outs")
    } finally q.stop()
    spark.stop()
  }
}
