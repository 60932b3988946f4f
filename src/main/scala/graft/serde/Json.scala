package graft.serde

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The one JSON codec of graft's metadata plane (a topic's `meta.json` and
  * `index.json`, the group files, Schema Registry payloads, the oracle map):
  * json4s, which Spark ships, parses every file and quotes every string.
  * [[obj]] keeps the layout those files have always had, `{"k": v, ...}`. */
private[graft] object Json {

  implicit val formats: Formats = DefaultFormats

  def parse(s: String): JValue = JsonMethods.parse(s)

  /** `s` as a JSON string literal: quotes, backslashes and every control
    * character escaped. */
  def quote(s: String): String = JsonMethods.compact(JString(s))

  /** An object over already-rendered values, keys quoted. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${quote(k)}: $v" }.mkString("{", ", ", "}")
}
