package graft.pipelines

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.ScalarOps.{AccelGPerLsb, GyroDpsPerLsb}
import graft.state._

/** One raw IMU wire sample (FIXTURES.md §2): int16 register images at
  * 0.000122 g/LSB (accel, 4 g FS) and 0.0175 dps/LSB (gyro, 500 dps
  * FS) — ORC_Main.c:114-115, 232-252. */
final case class RawImuSample(
    device_id: String, sample_idx: Long,
    ax_raw: Short, ay_raw: Short, az_raw: Short,
    gx_raw: Short, gy_raw: Short, gz_raw: Short)

/** One control-loop output row (post-calibration samples only). */
final case class ControlOutput(
    device_id: String, sample_idx: Long,
    acceleration_z: Double, pitch: Double, roll: Double,
    conditioned_az: Double,
    az_cmd: Double, pitch_cmd: Double, roll_cmd: Double,
    act1: Int, act2: Int, act3: Int, act4: Int)

/** Full per-device control-loop state (T1+T2+T3 composed): AHRS state,
  * LOCF'd scaled sensor vectors, calibration zeros, three PID states. */
final case class DeviceState(
    ahrs: AhrsState,
    gyro: Vec3, accel: Vec3,
    calibrated: Boolean, pitchZero: Double, rollZero: Double,
    pidAz: PidState, pidPitch: PidState, pidRoll: PidState)

/** SURVEY §3.2 — the real-time control path re-expressed as a keyed
  * stateful operator: peak-reject/scale (F3/F4+M1) -> AHRS (T1) ->
  * Euler + linear acceleration (M10/M12) -> noise crush (F5) -> 3 PIDs
  * (T2) -> corner transform + clamp (T4).
  *
  * Batch replay groups by device and sorts each group by sample
  * index, so one sequential scan per device, devices parallelized
  * across tasks — the pattern that holds at fleet scale (SURVEY
  * §7.5.4). Streaming uses flatMapGroupsWithState with an in-batch
  * sort, giving identical results when replaying the same data.
  */
object ControlPipeline {

  /** Peak-rejection thresholds in raw LSB (ORC_CONFIG.h:54-55). */
  val AccelPeakRej = 30738
  val GyroPeakRej = 28572

  /** Noise-crush dead band on linear z acceleration, in g
    * (ORC_Main.c:264-271). */
  val NoiseFloor = 0.003

  /** AHRS settings and sample period `dt` in seconds; the three PID
    * configurations follow from `dt` and the reference corner transform. */
  final case class Config(settings: AhrsSettings, dt: Double) {
    val (pidAzCfg, pidPitchCfg, pidRollCfg) =
      PidConfigs.reference(dt, CornerTransform.reference)
  }

  def initialState(cfg: Config): DeviceState = DeviceState(
    Ahrs.initial(cfg.settings), Vec3.Zero, Vec3.Zero,
    calibrated = false, 0.0, 0.0, PidState(), PidState(), PidState())

  /** One control-loop step. Returns the next state and, once the AHRS
    * has settled (T3 calibration complete), the output row. */
  def step(cfg: Config, st: DeviceState, s: RawImuSample)
      : (DeviceState, Option[ControlOutput]) = {
    // F3/F4 + M1: peak-reject (LOCF on the previous accepted value) and
    // scale to physical units. Faithful quirk (SURVEY §7.5.2): the
    // firmware gates *accelerometer* updates on the *gyro* buffer
    // (data_raw_angular_rate in the accel loop, ORC_Main.c:239-252), so
    // both gates read gRaw.
    val gRaw = Array(s.gx_raw.toInt, s.gy_raw.toInt, s.gz_raw.toInt)
    val aRaw = Array(s.ax_raw.toInt, s.ay_raw.toInt, s.az_raw.toInt)
    def gate(i: Int, raw: Array[Int], thr: Int): Boolean =
      raw(i) < thr && raw(i) > -thr
    val gyro = Vec3(
      if (gate(0, gRaw, GyroPeakRej)) gRaw(0) * GyroDpsPerLsb else st.gyro.x,
      if (gate(1, gRaw, GyroPeakRej)) gRaw(1) * GyroDpsPerLsb else st.gyro.y,
      if (gate(2, gRaw, GyroPeakRej)) gRaw(2) * GyroDpsPerLsb else st.gyro.z)
    val accel = Vec3(
      if (gate(0, gRaw, AccelPeakRej)) aRaw(0) * AccelGPerLsb else st.accel.x,
      if (gate(1, gRaw, AccelPeakRej)) aRaw(1) * AccelGPerLsb else st.accel.y,
      if (gate(2, gRaw, AccelPeakRej)) aRaw(2) * AccelGPerLsb else st.accel.z)

    // T1: AHRS update
    val ahrs = Ahrs.update(st.ahrs, cfg.settings, gyro, accel, cfg.dt)
    val base = st.copy(ahrs = ahrs, gyro = gyro, accel = accel)

    if (!st.calibrated) {
      // T3: calibration phase — run until stable, then capture zeros
      // (accel zero forced 0: noise crush removes the offset,
      // ORC_Main.c:204-208).
      if (ahrs.initialising || ahrs.angularRateRecovery)
        (base, None)
      else {
        val (roll, pitch, _) = ahrs.quaternion.toEulerDegrees
        (base.copy(calibrated = true, pitchZero = pitch, rollZero = roll),
          None)
      }
    } else {
      // M10 + M12
      val (roll, pitch, _) = ahrs.quaternion.toEulerDegrees
      val linZ = Ahrs.linearAcceleration(ahrs).z
      // F5: noise crush (ORC_Main.c:264-271)
      val conditioned =
        if (linZ > NoiseFloor) linZ - NoiseFloor
        else if (linZ < -NoiseFloor) linZ + NoiseFloor
        else 0.0
      // T2: three PID updates (setpoints: 0 / pitchZero / rollZero)
      val (pidAz, azCmd) = Pid.update(cfg.pidAzCfg, st.pidAz, 0.0, conditioned)
      val (pidPitch, pitchCmd) =
        Pid.update(cfg.pidPitchCfg, st.pidPitch, st.pitchZero, pitch)
      val (pidRoll, rollCmd) =
        Pid.update(cfg.pidRollCfg, st.pidRoll, st.rollZero, roll)
      // T4: corner transform + clamp
      val (a1, a2, a3, a4) = CornerTransform.reference(azCmd, pitchCmd, rollCmd)
      val out = ControlOutput(s.device_id, s.sample_idx,
        linZ, pitch, roll, conditioned, azCmd, pitchCmd, rollCmd,
        a1, a2, a3, a4)
      (base.copy(pidAz = pidAz, pidPitch = pidPitch, pidRoll = pidRoll),
        Some(out))
    }
  }

  /** Sequential run of one device's samples, in the order given, from
    * the initial state: the body of [[replayBatch]], and the reference
    * the streaming replay is checked against. */
  def runSequential(cfg: Config, samples: Iterator[RawImuSample])
      : Iterator[ControlOutput] = {
    var st = initialState(cfg)
    samples.flatMap { s =>
      val (next, out) = step(cfg, st, s)
      st = next
      out
    }
  }

  /** Micro-batch fold of [[replayStreaming]]: sort the trigger's rows
    * by sample index, apply the transition, return the outputs and the
    * advanced state. */
  def applyOrdered(cfg: Config, st0: DeviceState,
                   rows: Iterator[RawImuSample])
      : (DeviceState, Array[ControlOutput]) = {
    var st = st0
    val outs = rows.toArray.sortBy(_.sample_idx).flatMap { s =>
      val (next, out) = step(cfg, st, s)
      st = next
      out
    }
    (st, outs)
  }

  /** Batch replay: each device's samples grouped and sorted by
    * sample index, then one [[runSequential]] per device from a fresh
    * state. */
  def replayBatch(raw: Dataset[RawImuSample], cfg: Config)
      : Dataset[ControlOutput] = {
    import raw.sparkSession.implicits._
    raw.groupByKey(_.device_id)
      .flatMapSortedGroups(col("sample_idx"))((_, it) => runSequential(cfg, it))
  }

  /** Streaming replay: keyed state via flatMapGroupsWithState. Each
    * trigger's events are sorted by sample_idx before application
    * (SURVEY §7.5.4: Spark does not order within groups; the source
    * must be in-order across triggers, as the reference's single
    * ISR-producer is). */
  def replayStreaming(raw: Dataset[RawImuSample], cfg: Config)
      : Dataset[ControlOutput] = {
    import raw.sparkSession.implicits._
    raw.groupByKey(_.device_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, it: Iterator[RawImuSample],
         gs: GroupState[DeviceState]) => {
          val (st, outs) = applyOrdered(cfg,
            gs.getOption.getOrElse(initialState(cfg)), it)
          gs.update(st)
          outs.iterator
        })
  }
}
