package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Dataset, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.{ControlOutput, ControlPipeline, RawImuSample}
import graft.state.AhrsSettings

/** Distributed-vs-sequential consistency for the stateful control
  * pipeline: the Spark batch replay (repartition + sortWithinPartitions
  * + mapPartitions) and the streaming replay (flatMapGroupsWithState)
  * must both equal a plain sequential run of the same transition
  * function — this validates the ordering/partitioning machinery, which
  * is the Spark-specific risk (SURVEY §7.5.4). */
class ControlPipelineSpec extends AnyFunSuite with SparkTestBase {

  private val dt = 0.000282
  private val cfg = ControlPipeline.Config(
    AhrsSettings(recoveryTriggerPeriod = (5.0 / dt).toInt), dt)

  /** Deterministic synthetic raw stream: stationary with a sinusoidal
    * vertical disturbance and occasional out-of-range peaks to exercise
    * LOCF + rejection. ~1 g on z = 8197 LSB at 0.000122 g/LSB. */
  private def synth(device: String, n: Int, seed: Int): Seq[RawImuSample] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val az = 8197 + (600 * math.sin(i * 0.01)).toInt + rnd.nextInt(40)
      val gx = (200 * math.sin(i * 0.003)).toInt + rnd.nextInt(20)
      // inject a raw peak every 5000 samples (rejected, LOCF applies)
      val azPeaked = if (i % 5000 == 4999) 32000 else az
      RawImuSample(device, i.toLong,
        rnd.nextInt(30).toShort, rnd.nextInt(30).toShort,
        azPeaked.toShort,
        gx.toShort, rnd.nextInt(20).toShort, rnd.nextInt(20).toShort)
    }
  }

  // 3 s init at dt=282 us needs >10639 samples before outputs appear
  private val perDevice = 16000
  private val devices = Seq("dev-a", "dev-b", "dev-c")
  private lazy val data: Map[String, Seq[RawImuSample]] =
    devices.zipWithIndex.map { case (d, i) =>
      d -> synth(d, perDevice, seed = 42 + i)
    }.toMap

  private lazy val expected =
    data.map { case (d, samples) =>
      d -> ControlPipeline.runSequential(cfg, samples.iterator).toVector
    }

  test("sequential run produces outputs after calibration") {
    val outs = expected("dev-a")
    assert(outs.nonEmpty)
    // outputs begin right after the ~3 s initialisation + 1 settle row
    assert(outs.head.sample_idx > 3.0 / dt && outs.head.sample_idx < 3.2 / dt)
    // actuator codes stay in DAC range
    outs.foreach { o =>
      assert(o.act1 >= 0 && o.act1 <= 65535)
      assert(o.act4 >= 0 && o.act4 <= 65535)
    }
  }

  test("batch replay equals sequential run for every device") {
    import spark.implicits._
    // interleave devices and shuffle row order: replay must restore order
    val shuffled = new scala.util.Random(7)
      .shuffle(data.values.flatten.toVector)
    val ds = spark.createDataset(shuffled)
    val got = ControlPipeline.replayBatch(ds, cfg)
      .collect().groupBy(_.device_id)
    devices.foreach { d =>
      val g = got(d).sortBy(_.sample_idx).toVector
      val e = expected(d)
      assert(g.size == e.size, s"$d size ${g.size} vs ${e.size}")
      g.zip(e).foreach { case (a, b) => assert(a == b, s"$d mismatch") }
    }
  }

  test("streaming replay equals sequential run") {
    import spark.implicits._
    val ds = spark.createDataset(
      data.values.flatten.toVector.sortBy(_.sample_idx))
    val got = ControlPipeline.replayStreaming(ds, cfg)
      .collect().groupBy(_.device_id)
    devices.foreach { d =>
      val g = got(d).sortBy(_.sample_idx).toVector
      assert(g == expected(d), s"$d streaming mismatch")
    }
  }

  test("streaming replay restarted from its checkpoint equals sequential run") {
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    // one-second batches (3546 samples at dt); the stop after two falls
    // inside the 10 638-sample AHRS initialisation, so the restarted
    // query must carry it on from the checkpointed state
    val perBatch = 3546
    val (before, after) = (2, 2)
    val devs = Seq("dev-r0", "dev-r1")
    val samples = devs.zipWithIndex.map { case (d, i) =>
      d -> synth(d, perBatch * (before + after), seed = 77 + i)
    }.toMap
    def batch(b: Int): Seq[RawImuSample] =
      devs.flatMap(d => samples(d).slice(b * perBatch, (b + 1) * perBatch))

    val ckpt = tempDir("control-ckpt")
    val input = MemoryStream[RawImuSample]
    // the memory sink recovers from a checkpoint in Complete mode only,
    // so each batch's id and outputs are collected here
    val batches = new ConcurrentLinkedQueue[(Long, Array[ControlOutput])]()
    val sink: (Dataset[ControlOutput], Long) => Unit =
      (df, id) => batches.add((id, df.collect()))
    def start() = ControlPipeline.replayStreaming(input.toDS(), cfg)
      .writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch(sink).start()
    def feed(q: StreamingQuery, bs: Range) =
      bs.foreach { b => input.addData(batch(b)); q.processAllAvailable() }

    val key = Bench.CheckpointFileManagerKey
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, Bench.CheckpointFileManagerClass)
    try {
      val q1 = start()
      try feed(q1, 0 until before) finally q1.stop()
      assert(batches.asScala.forall(_._2.isEmpty),
        "outputs before the AHRS initialisation ends")
      val q2 = start()
      try feed(q2, before until before + after) finally q2.stop()
      // the restart resumes at the checkpointed batch, and replays none
      assert(batches.asScala.map(_._1).toSeq == (0L until before + after))

      val got = batches.asScala.flatMap(_._2).toVector.groupBy(_.device_id)
      devs.foreach { d =>
        val e = ControlPipeline.runSequential(cfg, samples(d).iterator).toVector
        assert(e.nonEmpty)
        assert(got.getOrElse(d, Vector.empty).sortBy(_.sample_idx) == e,
          s"$d restarted stream differs from the sequential run")
      }
      // every state delta has Spark's checksum sidecar
      val deltas = Using.resource(Files.walk(ckpt.resolve("state")))(
        _.iterator().asScala.filter(_.toString.endsWith(".delta")).toVector)
      assert(deltas.nonEmpty)
      deltas.foreach(p => assert(
        Files.exists(p.resolveSibling(s"${p.getFileName}.crc")), s"$p has no checksum file"))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
