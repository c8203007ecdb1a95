package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The one writer of the JSON lines that tools and checks parse: Bench,
  * BenchStream, the oracle SQL map, the probe mains and the stage
  * provenance. Every line is a json4s value, so strings are escaped and
  * numbers are plain decimals whatever the locale. */
object ArtifactJson {

  /** `x` with exactly `dp` decimals and no exponent, rounded half-up as
    * `f"%.{dp}f"` prints it. */
  def fixed(x: Double, dp: Int): JValue =
    JDecimal(BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP))

  /** `None` as JSON null (json4s' own Option conversion drops the key). */
  def orNull[A](a: Option[A])(f: A => JValue): JValue = a.fold[JValue](JNull)(f)

  /** One compact line. */
  def text(v: JValue): String = compact(render(v))
}
