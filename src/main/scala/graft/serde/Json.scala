package graft.serde

import com.fasterxml.jackson.databind.DeserializationFeature
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The one JSON codec of graft's metadata plane (a topic's `meta.json` and
  * `index.json`, the group files, Schema Registry payloads, the oracle map):
  * json4s, which Spark ships, parses every file and quotes every string.
  * [[obj]] keeps the layout those files have always had, `{"k": v, ...}`. */
private[graft] object Json {

  implicit val formats: Formats = DefaultFormats

  // `JsonMethods.parse`'s reader (doubles as Double, integers as BigInt),
  // derived from json4s's mapper so the mapper Spark shares is untouched,
  // plus trailing-token failure: `{"0": 5} garbage` is an error, not `{"0": 5}`
  private val reader = JsonMethods.mapper.readerFor(classOf[JValue])
    .without(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .`with`(DeserializationFeature.USE_BIG_INTEGER_FOR_INTS)
    .`with`(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** The one JSON value `s` holds; throws when anything but whitespace
    * follows it. */
  def parse(s: String): JValue = reader.readValue[JValue](s)

  /** `s` as a JSON string literal: quotes, backslashes and every control
    * character escaped. */
  def quote(s: String): String = JsonMethods.compact(JString(s))

  /** An object over already-rendered values, keys quoted. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${quote(k)}: $v" }.mkString("{", ", ", "}")
}
