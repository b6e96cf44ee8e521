package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer for the mains' artifacts (Bench, StreamBench,
  * Verify, SentinelProbe): ordered maps (`SeqMap`), sequences, strings,
  * numbers and booleans go in, one line comes out. Keys keep their
  * map's order, strings are escaped, and numbers print as
  * `Double.toString`/`Long.toString` do, whatever the JVM's default
  * locale: a comma-decimal JVM still writes `12.3`.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(value: Any): String = mapper.writeValueAsString(value)

  /** `x` rounded half-up to `places` decimals, as a value: the number
    * `%.Nf` prints, without its locale.
    */
  def rounded(x: Double, places: Int): Double =
    BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble
}
