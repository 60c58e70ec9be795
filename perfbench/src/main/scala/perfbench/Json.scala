package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The benchmark's one JSON writer. Every record goes through [[render]],
  * which replaces NaN and ±Infinity with null wherever they occur, so no
  * non-finite number can reach the output. */
object Json {
  def num(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)
  def num(v: Long): JValue = JLong(v)
  def str(s: String): JValue = if (s == null) JNull else JString(s)
  def obj(fields: (String, JValue)*): JObject = JObject(fields.toList)
  def arr(vs: Iterable[JValue]): JArray = JArray(vs.toList)

  def finite(v: JValue): JValue = v match {
    case JDouble(d) => num(d)
    case JObject(fs) => JObject(fs.map { case (k, x) => k -> finite(x) })
    case JArray(xs) => JArray(xs.map(finite))
    case other => other
  }

  def render(v: JValue): String = JsonMethods.compact(JsonMethods.render(finite(v)))

  def parse(s: String): JValue = JsonMethods.parse(s)
}
