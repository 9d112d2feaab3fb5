package graft.pipelines

import graft.state.AhrsSettings

/** CLI replay of the control loop over a synthetic multi-device raw
  * stream (no recorded pre-fusion stream ships with the reference):
  * generates deterministic IMU wire data, runs the batch replay, and
  * prints per-device throughput + output summary.
  *
  * Usage: runMain graft.pipelines.ControlReplayMain [nDevices] [samplesPerDevice]
  */
object ControlReplayMain {
  def main(args: Array[String]): Unit = {
    val nDevices = if (args.length > 0) args(0).toInt else 8
    val perDevice = if (args.length > 1) args(1).toInt else 100000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Bench.benchSession(cpus)
    import spark.implicits._

    val dt = 0.000282
    val cfg = ControlPipeline.Config(
      AhrsSettings(recoveryTriggerPeriod = (5.0 / dt).toInt), dt)

    // Distributed synthesis: one task per device.
    val raw = spark.range(0, nDevices.toLong)
      .as[Long]
      .flatMap { dev =>
        val rnd = new scala.util.Random(42 + dev)
        (0 until perDevice).iterator.map { i =>
          val az = 8197 + (600 * math.sin(i * 0.01)).toInt + rnd.nextInt(40)
          RawImuSample(s"dev-$dev", i.toLong,
            rnd.nextInt(30).toShort, rnd.nextInt(30).toShort, az.toShort,
            (200 * math.sin(i * 0.003)).toInt.toShort,
            rnd.nextInt(20).toShort, rnd.nextInt(20).toShort)
        }
      }

    val t0 = System.nanoTime()
    val out = ControlPipeline.replayBatch(raw, cfg)
    val summary = out.groupByKey(_.device_id)
      .mapGroups { (d, it) =>
        var n = 0L; var sumAz = 0.0; var a1Min = Int.MaxValue; var a1Max = 0
        it.foreach { o =>
          n += 1; sumAz += o.acceleration_z
          if (o.act1 < a1Min) a1Min = o.act1
          if (o.act1 > a1Max) a1Max = o.act1
        }
        (d, n, sumAz / n, a1Min, a1Max)
      }
      .collect().sortBy(_._1)
    val secs = (System.nanoTime() - t0) / 1e9
    val totalIn = nDevices.toLong * perDevice
    summary.foreach { case (d, n, meanAz, a1Min, a1Max) =>
      println(f"$d%-8s outputs=$n%-8d meanLinAz=$meanAz%+.5f act1=[$a1Min,$a1Max]")
    }
    println(f"replayed $totalIn rows in $secs%.2f s = ${totalIn / secs}%.0f rows/s " +
      f"(${totalIn / secs / nDevices}%.0f rows/s/device; real-time is ${1 / dt}%.0f)")
    spark.stop()
  }
}
