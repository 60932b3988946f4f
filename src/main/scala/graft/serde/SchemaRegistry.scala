package graft.serde

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import scala.collection.concurrent.TrieMap
import org.json4s._
import org.json4s.jackson.JsonMethods
import Json.formats

/** Confluent Schema Registry client (kafi/schemaregistry.py:24-236) — the
  * admin-plane companion of the Confluent wire format in [[Serde]]:
  * register / lookup-by-id / subject versions / latest, with an id→schema
  * cache (schema ids are immutable, so the cache never invalidates; latest/
  * register seed it).
  *
  * Plain JDK HTTP, payloads through [[Json]]; the data plane never calls
  * this per row (resolve ids up front, decode with [[AvroSerde]]/from_json).
  * Driver-side by design: executors receive resolved schemas via closure
  * capture or broadcast, never a registry connection each. Connect and
  * request timeouts are set — a hung registry fails the call instead of
  * hanging the driver.
  */
class SchemaRegistry(baseUrl: String,
    client: HttpClient = HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(10)).build(),
    requestTimeout: Duration = Duration.ofSeconds(30)) {

  private val byId = TrieMap.empty[Int, String]

  private def enc(segment: String): String =
    URLEncoder.encode(segment, StandardCharsets.UTF_8).replace("+", "%20")

  /** One registry call, its response parsed. A call with a body sends it
    * as the registry's JSON content type. */
  private def call(method: String, path: String, body: Option[String] = None): JValue = {
    val req = HttpRequest.newBuilder(URI.create(s"$baseUrl$path")).timeout(requestTimeout)
    body match {
      case Some(b) => req.header("Content-Type", "application/vnd.schemaregistry.v1+json")
        .method(method, HttpRequest.BodyPublishers.ofString(b, StandardCharsets.UTF_8))
      case None => req.header("Accept", "application/vnd.schemaregistry.v1+json")
        .method(method, HttpRequest.BodyPublishers.noBody())
    }
    val resp = client.send(req.build(), HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200, s"registry $method $path -> ${resp.statusCode()}: ${resp.body()}")
    Json.parse(resp.body())
  }

  private def get(path: String): JValue = call("GET", path)
  private def post(path: String, body: String): JValue = call("POST", path, Some(body))
  private def delete(path: String): JValue = call("DELETE", path)

  private def field[A: Manifest](body: JValue, name: String): A =
    (body \ name).extractOpt[A].getOrElse(sys.error(s"no $name in: ${JsonMethods.compact(body)}"))

  /** `{"schema": ..., "schemaType": ...}`; AVRO, the Confluent default, is
    * omitted. */
  private def schemaBody(schemaJson: String, schemaType: String): String =
    Json.obj(("schema" -> Json.quote(schemaJson)) +:
      (if (schemaType == "AVRO") Nil else Seq("schemaType" -> Json.quote(schemaType))))

  /** Schema text by id (cached — ids are immutable).
    * GET /schemas/ids/{id} (schemaregistry.py lookup path). */
  def schemaById(id: Int): String =
    byId.getOrElseUpdate(id, field[String](get(s"/schemas/ids/$id"), "schema"))

  /** Register a schema under a subject, returning its id; seeds the cache.
    * POST /subjects/{subject}/versions. `schemaType` is AVRO (the Confluent
    * default, omitted from the body), JSON, or PROTOBUF — the reference
    * registers all three (kafi/schemaregistry.py register path). */
  def register(subject: String, schemaJson: String, schemaType: String = "AVRO",
      normalize: Boolean = false): Int = {
    val q = if (normalize) "?normalize=true" else ""
    val id = field[Int](
      post(s"/subjects/${enc(subject)}/versions$q", schemaBody(schemaJson, schemaType)), "id")
    byId.putIfAbsent(id, schemaJson)
    id
  }

  /** The Confluent TopicNameStrategy subject for a topic's key or value —
    * `{topic}-key` / `{topic}-value` (kafi/schemaregistry.py
    * create_subject_name_str). */
  def subjectName(topic: String, isKey: Boolean): String =
    if (isKey) s"$topic-key" else s"$topic-value"

  /** Version numbers of a subject. GET /subjects/{subject}/versions. */
  def versions(subject: String): Seq[Int] =
    get(s"/subjects/${enc(subject)}/versions").extract[Seq[Int]]

  /** Latest schema (id, text) of a subject; seeds the id cache.
    * GET /subjects/{subject}/versions/latest. */
  def latest(subject: String): (Int, String) =
    idAndSchema(get(s"/subjects/${enc(subject)}/versions/latest"))

  private def idAndSchema(body: JValue): (Int, String) = {
    val id = field[Int](body, "id")
    val schema = field[String](body, "schema")
    byId.putIfAbsent(id, schema)
    (id, schema)
  }

  /** Set a subject's compatibility level (BACKWARD, FORWARD, FULL, NONE,
    * *_TRANSITIVE), returning the level the registry actually set.
    * PUT /config/{subject} (kafi/schemaregistry.py set_compatibility). */
  def setCompatibility(subject: String, level: String): String =
    field[String](call("PUT", s"/config/${enc(subject)}",
      Some(Json.obj(Seq("compatibility" -> Json.quote(level))))), "compatibility")

  /** A subject's compatibility level. GET /config/{subject} — the response
    * field is `compatibilityLevel`, unlike the PUT's `compatibility`
    * (kafi/schemaregistry.py get_compatibility). */
  def getCompatibility(subject: String): String =
    field[String](get(s"/config/${enc(subject)}"), "compatibilityLevel")

  /** Would `schemaJson` be accepted under the subject's compatibility rules
    * against `version` (default latest)? POST /compatibility/subjects/
    * {subject}/versions/{version} (kafi/schemaregistry.py
    * test_compatibility). */
  def testCompatibility(subject: String, schemaJson: String,
      version: String = "latest", schemaType: String = "AVRO"): Boolean =
    field[Boolean](post(s"/compatibility/subjects/${enc(subject)}/versions/${enc(version)}",
      schemaBody(schemaJson, schemaType)), "is_compatible")

  /** Schema text by GUID — the registry's globally-unique schema handle,
    * distinct from the integer id. GET /schemas/guids/{guid}
    * (kafi/schemaregistry.py get_schema_by_guid). */
  def schemaByGuid(guid: String): String =
    field[String](get(s"/schemas/guids/${enc(guid)}"), "schema")

  /** Is this exact schema already registered under the subject? Returns its
    * (id, version). POST /subjects/{subject} — the lookup endpoint, NOT the
    * /versions registration one (kafi/schemaregistry.py lookup_schema). */
  def lookupSchema(subject: String, schemaJson: String,
      schemaType: String = "AVRO", normalize: Boolean = false): (Int, Int) = {
    val q = if (normalize) "?normalize=true" else ""
    val body = post(s"/subjects/${enc(subject)}$q", schemaBody(schemaJson, schemaType))
    (field[Int](body, "id"), field[Int](body, "version"))
  }

  /** Subject names, glob-filtered client-side like the reference's `sls`
    * (kafi/schemaregistry.py get_subjects + pattern_match); deleted=true
    * includes soft-deleted subjects. GET /subjects[?deleted=true]. */
  def subjects(pattern: String = "*", deleted: Boolean = false): Seq[String] = {
    val q = if (deleted) "?deleted=true" else ""
    val re = graft.functions.Helpers.globToRegex(pattern).r
    get(s"/subjects$q").extract[Seq[String]].filter(s => re.matches(s))
  }

  /** (subject, version) pairs where a schema id is registered.
    * GET /schemas/ids/{id}/versions (kafi/schemaregistry.py
    * get_schema_versions). */
  def schemaVersions(id: Int): Seq[(String, Int)] =
    get(s"/schemas/ids/$id/versions").extract[Seq[JValue]]
      .map(v => (field[String](v, "subject"), field[Int](v, "version")))

  /** One registered version of a subject: (id, schema text); seeds the id
    * cache. GET /subjects/{subject}/versions/{version}
    * (kafi/schemaregistry.py get_version). */
  def version(subject: String, version: Int): (Int, String) =
    idAndSchema(get(s"/subjects/${enc(subject)}/versions/$version"))

  /** Delete one subject version, returning the deleted version number;
    * permanent=true hard-deletes (must follow a soft delete, per the
    * registry contract). DELETE /subjects/{s}/versions/{v}[?permanent=true]
    * (kafi/schemaregistry.py delete_version). */
  def deleteVersion(subject: String, version: Int, permanent: Boolean = false): Int = {
    val q = if (permanent) "?permanent=true" else ""
    delete(s"/subjects/${enc(subject)}/versions/$version$q").extract[Int]
  }

  /** Delete every subject matching a glob, returning subject → deleted
    * version numbers — the reference's `srm` semantics (glob resolved
    * client-side, one DELETE per match). DELETE /subjects/{s}
    * [?permanent=true] (kafi/schemaregistry.py delete_subject). */
  def deleteSubject(pattern: String, permanent: Boolean = false): Map[String, Seq[Int]] = {
    subjects(pattern, deleted = permanent).map { s =>
      // registry contract: a permanent delete must follow a soft delete.
      // Matched subjects may be live (the listing includes both), so issue
      // the soft delete first and tolerate "already soft-deleted" — a bare
      // ?permanent=true against a live subject is rejected (40405) AFTER
      // earlier matches were hard-deleted, leaving a partial delete.
      if (permanent) {
        try delete(s"/subjects/${enc(s)}")
        catch { case _: IllegalArgumentException => () }
        s -> delete(s"/subjects/${enc(s)}?permanent=true").extract[Seq[Int]]
      } else
        s -> delete(s"/subjects/${enc(s)}").extract[Seq[Int]]
    }.toMap
  }
}
