package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.HttpServer
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.serde.SchemaRegistry

/** Registry client against a real HTTP server (JDK built-in) — wire-level,
  * no Spark involved. */
class SchemaRegistrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var url: String = _
  @volatile private var idHits = 0
  private val schema = """{"type":"record","name":"Doc","fields":[{"name":"t","type":"string"}]}"""

  private def reply(ex: com.sun.net.httpserver.HttpExchange, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress(0), 0)
    val escaped = schema.replace("\"", "\\\"")
    server.createContext("/schemas/ids/7", ex => { idHits += 1; reply(ex, s"""{"schema": "$escaped"}""") })
    server.createContext("/subjects/docs-value/versions/latest",
      ex => reply(ex, s"""{"subject": "docs-value", "version": 3, "id": 7, "schema": "$escaped"}"""))
    server.createContext("/subjects/docs-value/versions", ex =>
      if (ex.getRequestMethod == "POST") {
        // the body must be valid JSON even for pretty-printed schemas
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        if (body.contains("\n")) reply(ex, """{"error": "raw newline in JSON"}""")
        else reply(ex, """{"id": 7}""")
      } else reply(ex, "[1,2,3]"))
    server.createContext("/schemas/ids/9",
      ex => reply(ex, """{"schema": "{\"doc\": \"line1\nline2 café\"}"}"""
        .replace("\n", "\\n").replace("é", "\\u00e9")))
    // HttpServer matches contexts on the DECODED path; the assertion that
    // the client ENCODED it lives in the handler (raw URI check)
    server.createContext("/subjects/my subject/versions", ex => {
      assert(ex.getRequestURI.getRawPath.contains("my%20subject"))
      reply(ex, "[5]")
    })
    server.start()
    url = s"http://localhost:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = server.stop(0)

  test("lookup by id roundtrips the schema text and caches (ids immutable)") {
    val sr = new SchemaRegistry(url)
    assert(sr.schemaById(7) == schema)
    assert(sr.schemaById(7) == schema)
    assert(idHits == 1, "second lookup must come from the cache")
  }

  test("register returns the id; versions and latest parse; latest seeds the cache") {
    val sr = new SchemaRegistry(url)
    assert(sr.register("docs-value", schema) == 7)
    assert(sr.versions("docs-value") == Seq(1, 2, 3))
    val before = idHits
    val (id, s) = sr.latest("docs-value")
    assert(id == 7 && s == schema)
    assert(sr.schemaById(7) == schema)
    assert(idHits == before, "latest() must seed the id cache — no extra GET")
  }

  test("pretty-printed schema with newlines registers (control-char escaping)") {
    val sr = new SchemaRegistry(url)
    val pretty = "{\n  \"type\": \"string\"\n}"
    assert(sr.register("docs-value", pretty) == 7) // server json-parses the body
  }

  test("unescape restores newlines and unicode escapes in fetched schema text") {
    val sr = new SchemaRegistry(url)
    // /schemas/ids/9 serves a schema whose JSON encoding contains \n and é
    assert(sr.schemaById(9) == "{\"doc\": \"line1\nline2 café\"}")
  }

  test("subject names with spaces are URL-encoded") {
    val sr = new SchemaRegistry(url)
    assert(sr.versions("my subject") == Seq(5))
  }

  test("JSON schemaType registers with the type field and drives json_sr validation") {
    val jsonSchema =
      """{"type":"object","properties":{"t":{"type":"string"}},"required":["t"]}"""
    @volatile var sawType = false
    server.createContext("/subjects/docs-json/versions", ex => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      sawType = body.contains(""""schemaType": "JSON"""")
      reply(ex, """{"id": 11}""")
    })
    server.createContext("/schemas/ids/11",
      ex => reply(ex, s"""{"schema": "${jsonSchema.replace("\"", "\\\"")}", "schemaType": "JSON"}"""))
    val sr = new SchemaRegistry(url)
    assert(sr.register("docs-json", jsonSchema, schemaType = "JSON") == 11)
    assert(sawType, "JSON registration must carry schemaType")
    // data-plane handoff: registry id -> compiled StructType -> validation
    val st = graft.serde.JsonSchema.structFromRegistry(new SchemaRegistry(url), 11)
    assert(st.fieldNames.toSeq == Seq("t") && !st("t").nullable)
    val spark = SparkSpec.session
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = Seq((1L, """{"t":"x"}"""), (2L, """{}"""))
      .toDF("id", "p")
      .select(col("id"), graft.serde.JsonSchema.isValid(col("p"), jsonSchema).as("v"))
      .as[(Long, Boolean)].collect().toMap
    assert(got(1L) && !got(2L))
  }

  test("compatibility: set (PUT), get (GET), and test against a version") {
    @volatile var putBody = ""
    @volatile var testBody = ""
    @volatile var testPath = ""
    server.createContext("/config/docs-value", ex => ex.getRequestMethod match {
      case "PUT" =>
        putBody = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        reply(ex, """{"compatibility": "FULL_TRANSITIVE"}""")
      case _ => reply(ex, """{"compatibilityLevel": "BACKWARD"}""")
    })
    server.createContext("/compatibility/subjects/docs-value/versions/latest", ex => {
      testBody = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      testPath = ex.getRequestURI.getRawPath
      reply(ex, """{"is_compatible": true}""")
    })
    server.createContext("/compatibility/subjects/docs-value/versions/2",
      ex => reply(ex, """{"is_compatible": false}"""))
    val sr = new SchemaRegistry(url)
    assert(sr.setCompatibility("docs-value", "FULL_TRANSITIVE") == "FULL_TRANSITIVE")
    assert(putBody.contains(""""compatibility": "FULL_TRANSITIVE""""))
    assert(sr.getCompatibility("docs-value") == "BACKWARD")
    assert(sr.testCompatibility("docs-value", schema))
    assert(testBody.contains("\\\"Doc\\\""), "schema must travel escaped in the body")
    assert(!sr.testCompatibility("docs-value", schema, version = "2"))
    // a JSON-type schema carries schemaType in the test body too
    assert(sr.testCompatibility("docs-value", """{"type":"object"}""", schemaType = "JSON"))
    assert(testBody.contains(""""schemaType": "JSON""""))
  }

  test("subject surface: lookup-under-subject, glob listing, versions, deletes") {
    val escaped = schema.replace("\"", "\\\"")
    // POST /subjects/{s} is lookup; POST /subjects/{s}/versions is register —
    // the handler asserts the client hits the lookup endpoint exactly
    server.createContext("/subjects/orders-value", ex => {
      if (ex.getRequestMethod == "POST") {
        assert(!ex.getRequestURI.getRawPath.endsWith("/versions"))
        reply(ex, s"""{"subject": "orders-value", "id": 13, "version": 4, "schema": "$escaped"}""")
      } else { // DELETE subject
        assert(ex.getRequestMethod == "DELETE")
        reply(ex, "[1,2,3,4]")
      }
    })
    server.createContext("/subjects/orders-value/versions/4", ex =>
      if (ex.getRequestMethod == "DELETE") {
        if (ex.getRequestURI.getRawQuery == "permanent=true") reply(ex, "4") else reply(ex, "4")
      } else reply(ex, s"""{"subject": "orders-value", "version": 4, "id": 13, "schema": "$escaped"}"""))
    server.createContext("/subjects", ex => {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      if (q.contains("deleted=true")) reply(ex, """["orders-value", "docs-value", "gone-value"]""")
      else reply(ex, """["orders-value", "docs-value"]""")
    })
    server.createContext("/schemas/ids/13/versions", ex =>
      reply(ex, """[{"subject": "orders-value", "version": 4}, {"subject": "other", "version": 1}]"""))
    val sr = new SchemaRegistry(url)
    assert(sr.subjectName("orders", isKey = false) == "orders-value")
    assert(sr.subjectName("orders", isKey = true) == "orders-key")
    assert(sr.lookupSchema("orders-value", schema) == ((13, 4)))
    assert(sr.lookupSchema("orders-value", schema, normalize = true) == ((13, 4)))
    assert(sr.subjects() == Seq("orders-value", "docs-value"))
    assert(sr.subjects("orders*") == Seq("orders-value"))
    assert(sr.subjects(deleted = true).contains("gone-value"))
    assert(sr.schemaVersions(13) == Seq(("orders-value", 4), ("other", 1)))
    assert(sr.version("orders-value", 4) == ((13, schema)))
    assert(sr.deleteVersion("orders-value", 4) == 4)
    assert(sr.deleteVersion("orders-value", 4, permanent = true) == 4)
    assert(sr.deleteSubject("orders*") == Map("orders-value" -> Seq(1, 2, 3, 4)))
  }

  test("schemaVersions reads each object's fields in any order and unescapes the subject") {
    server.createContext("/schemas/ids/21/versions",
      ex => reply(ex, """[{"version": 2, "subject": "café-value"}]""".replace("é", "\\u00e9")))
    assert(new SchemaRegistry(url).schemaVersions(21) == Seq(("café-value", 2)))
  }

  test("schema lookup by GUID") {
    val escaped = schema.replace("\"", "\\\"")
    server.createContext("/schemas/guids/3e2f0680-0000-4000-8000-0000deadbeef",
      ex => reply(ex, s"""{"schema": "$escaped", "schemaType": "AVRO"}"""))
    val sr = new SchemaRegistry(url)
    assert(sr.schemaByGuid("3e2f0680-0000-4000-8000-0000deadbeef") == schema)
  }

  test("registered schema drives the Avro + Confluent-frame data path") {
    val sr = new SchemaRegistry(url)
    val (id, schemaText) = sr.latest("docs-value")
    // the data-plane handoff: id -> wire prefix, schema text -> decoder
    val spark = SparkSpec.session
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, """{"t": "hello"}""")).toDF("doc_id", "j")
    val framed = graft.serde.AvroSerde.encodeFromJson(df, "doc_id", "j", schemaText)
      .select(col("doc_id"), graft.serde.Serde.confluentWrap(col("avro"), lit(id)).as("bin"))
    val sid = framed.select(graft.serde.Serde.confluentSchemaId(col("bin"))).head.getInt(0)
    assert(sid == 7)
    val back = graft.serde.AvroSerde.decodeToJson(framed, "doc_id", "bin",
      sr.schemaById(sid), stripConfluent = true)
      .select(get_json_object(col("json"), "$.t")).head.getString(0)
    assert(back == "hello")
  }
}
