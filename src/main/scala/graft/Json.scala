package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer. Every record the program emits (the bench record
  * and its stdout summary, Verify's oracle_sql.json, the alert webhook
  * body) renders through [[mapper]], so escaping and number formatting
  * are decided here and nowhere else. Case classes render their fields
  * in declaration order; Scala maps in iteration order. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `v` as one line of JSON. */
  def write(v: Any): String = mapper.writeValueAsString(v)

  /** A double rounded half-up to 4 decimals, rendered with all four
    * (0.5 → 0.5000): the number form of the timing records. */
  def round4(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(4, java.math.RoundingMode.HALF_UP)
}
