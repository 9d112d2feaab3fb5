package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar column functions re-expressing the reference's per-sample math
  * (SURVEY §2.2-§2.3) as codegen-friendly Catalyst expressions — no UDFs.
  *
  * Reference citations (CJJeepster/ORC):
  *  - deadband: ESP source/main/ORC_Main.c:264-271 ("noise crush")
  *  - clamp: Transform.c:73-76, PID/PID.c:76-80, LTC2664_reg.c:76-84
  *  - LSB scaling: ORC_Main.c:241,250 (0.0175 dps, 0.000122 g per LSB)
  *  - clamped asin: Fusion/FusionMath.h:148-156
  */
object ScalarOps {

  /** F5: noise-floor crush. |x| <= floor -> 0, else shrink toward 0 by
    * floor. (ORC_Main.c:264-271, floor = 0.003 from ORC_CONFIG.h:56). */
  def deadband(x: Column, floor: Double): Column =
    when(abs(x) <= floor, lit(0.0)).otherwise(x - signum(x) * floor)

  /** F7: clamp / saturate to [lo, hi]. */
  def clamp(x: Column, lo: Column, hi: Column): Column =
    least(hi, greatest(lo, x))

  def clamp(x: Column, lo: Double, hi: Double): Column =
    clamp(x, lit(lo), lit(hi))

  /** M1: raw sensor LSB -> physical units (gyro 0.0175 dps/LSB at 500 dps
    * FS; accel 0.000122 g/LSB at 4 g FS). */
  val GyroDpsPerLsb: Double = 0.0175
  val AccelGPerLsb: Double = 0.000122
  def lsbScale(raw: Column, unitsPerLsb: Double): Column = raw * lit(unitsPerLsb)

  /** M3: asin with the argument clamped to [-1, 1] (FusionMath.h:148-156). */
  def clampedAsin(x: Column): Column = asin(clamp(x, -1.0, 1.0))

  /** M21: random 4-digit log number the firmware stamps on each new
    * log entry (`esp_random() % 10000`, ORC_Main.c:774). Seeded
    * `rand`, so a run is reproducible given the seed — but Spark's
    * rand draws per partition, so values are stable only for a fixed
    * partition layout. Use [[keyedLogId]] when ids must survive
    * repartitioning, re-runs, and engine changes. */
  def randomLogId(seed: Long): Column =
    floor(rand(seed) * 10000).cast("int")

  /** Deterministic M21 variant: 4-digit id drawn from md5(salt:key) —
    * layout-independent and cross-engine reproducible (same contract
    * as the hash-based sampling operators). */
  def keyedLogId(key: Column, salt: String): Column =
    pmod(graft.operators.CurationOps.md5Hash32(
      concat(lit(s"$salt:"), key.cast("string"))), lit(10000L)).cast("int")
}
