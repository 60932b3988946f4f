package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.model.{Envelope, TableCache}
import graft.ops.{Files, Flatten}
import graft.serde.{AvroSerde, Chunker, Serde}

/** Correctness wiring for serde / chunking / file bridges / explode_normalize. */
object SerdeQueries extends Registry {

  /** The roundtrip oracle: every encode/decode pair must return the
    * documents table unchanged. */
  private val docsText: String =
    """SELECT doc_id, text FROM documents ORDER BY doc_id"""

  val all: Seq[Q] = Seq(
    // JSON payload decode over the envelope (deserializer.py:45-57)
    Q("q_serde_json", (s, dir) =>
      Envelope.fromEvents(s, dir)
        .withColumn("k", Serde.jsonDecode(col("value"), StructType(Seq(StructField("k", IntegerType)))).getField("k").cast("long"))
        .select("event_id", "k")
        .orderBy("event_id"),
      """SELECT event_id,
        |CASE WHEN event_type = 'click' THEN NULL
        |     ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // Confluent wire-format roundtrip: wrap → schema-id extract + body decode
    Q("q_serde_confluent", (s, dir) => {
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
      val framed = docs.withColumn("__bin",
        Serde.confluentWrap(Serde.utf8Encode(col("text")), col("doc_id") % 100))
      framed.select(
        col("doc_id"),
        Serde.confluentSchemaId(col("__bin")).as("schema_id"),
        Serde.utf8Decode(Serde.confluentBody(col("__bin"))).as("text"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(doc_id % 100 AS INTEGER) AS schema_id, text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // header-based schema discovery (deserializer.py:104-123): even doc_ids
    // carry a __value_schema_id header (version byte + 16-byte GUID built
    // from doc_id) which takes precedence; odd doc_ids fall back to the
    // wire-format prefix id. schema_ref is the resolved reference either way.
    Q("q_serde_confluent_header", (s, dir) => {
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
      val hdrType = "array<struct<key:string,value:binary>>"
      val guidBytes = concat(unhex(lit("01")),
        unhex(lpad(hex(col("doc_id")), 32, "0")))
      val framed = docs
        .withColumn("headers",
          when(col("doc_id") % 2 === 0,
            array(struct(lit("__value_schema_id").as("key"), guidBytes.as("value"))))
            .otherwise(array().cast(hdrType)))
        .withColumn("__bin",
          Serde.confluentWrap(Serde.utf8Encode(col("text")), col("doc_id") % 100))
      framed.select(
        col("doc_id"),
        Serde.schemaRef(col("__bin"), col("headers"), isKey = false).as("schema_ref"),
        Serde.utf8Decode(Serde.confluentBody(col("__bin"))).as("text"))
        .orderBy("doc_id")
    },
      """WITH h AS (SELECT doc_id, text, printf('%032x', doc_id) AS hx FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN
        |    substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-' || substr(hx, 13, 4)
        |      || '-' || substr(hx, 17, 4) || '-' || substr(hx, 21, 12)
        |  ELSE CAST(doc_id % 100 AS VARCHAR) END AS schema_ref,
        |  text
        |FROM h ORDER BY doc_id""".stripMargin),

    // base64 roundtrip (helpers.py:188-215)
    Q("q_serde_base64", (s, dir) =>
      TableCache.parquet(s, s"$dir/documents.parquet")
        .select(col("doc_id"),
          Serde.utf8Decode(Serde.b64Decode(Serde.b64Encode(Serde.utf8Encode(col("text"))))).as("text"))
        .orderBy("doc_id"),
      docsText),

    // Avro roundtrip: json -> binary avro -> Confluent frame -> strip ->
    // decode -> extract (deserializer.py:59-77 + :104-123)
    Q("q_serde_avro_roundtrip", (s, dir) => {
      val schema =
        """{"type":"record","name":"Doc","fields":[
          |{"name":"doc_id","type":"long"},{"name":"text","type":"string"}]}""".stripMargin
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
      val json = docs.select(col("doc_id"),
        to_json(struct(col("doc_id"), col("text"))).as("j"))
      val avro = AvroSerde.encodeFromJson(json, "doc_id", "j", schema)
      val framed = avro.select(col("doc_id"),
        Serde.confluentWrap(col("avro"), lit(7)).as("bin"))
      AvroSerde.decodeToJson(framed, "doc_id", "bin", schema, stripConfluent = true)
        .select(col("doc_id"), get_json_object(col("json"), "$.text").as("text"))
        .orderBy("doc_id")
    },
      docsText),

    // chunk counts (chunker.py:25-63)
    Q("q_chunk", (s, dir) => {
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
        .select(col("doc_id"), col("text").as("value"))
      Chunker.chunk(docs, 64, Seq("doc_id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"), max("chunk_total").cast("long").as("chunk_total"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |CAST(greatest(1, (length(text) + 63) // 64) AS BIGINT) AS n_chunks,
        |CAST(greatest(1, (length(text) + 63) // 64) AS BIGINT) AS chunk_total
        |FROM documents ORDER BY doc_id""".stripMargin),

    // chunk → dechunk roundtrip (dechunker.py:15-75): identity
    Q("q_chunk_roundtrip", (s, dir) => {
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
        .select(col("doc_id"), col("text").as("value"))
      Chunker.dechunk(Chunker.chunk(docs, 64, Seq("doc_id")))
        .select(col("doc_id"), col("value").as("text"))
        .orderBy("doc_id")
    },
      docsText),

    // csv bridge roundtrip (files.py:15-85)
    Q("q_file_csv_roundtrip", (s, dir) => {
      val nation = TableCache.parquet(s, s"$dir/nation.parquet")
      val path = "/tmp/graft_files/nation_csv"
      Files.topicToFile(nation, path, "csv")
      Files.fileToTopic(s, path, "csv",
        StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType))))
        .orderBy("n_nationkey")
    },
      """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"""),

    // json bridge roundtrip
    Q("q_file_json_roundtrip", (s, dir) => {
      val region = TableCache.parquet(s, s"$dir/region.parquet")
      val path = "/tmp/graft_files/region_json"
      Files.topicToFile(region, path, "json")
      Files.fileToTopic(s, path, "json",
        StructType(Seq(
          StructField("r_regionkey", IntegerType),
          StructField("r_name", StringType))))
        .orderBy("r_regionkey")
    },
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"""),

    // protobuf wire-format roundtrip (deserializer.py:78-97): rows → proto3
    // bytes → rows through the varint/fixed64/length-delimited codec
    Q("q_serde_proto", (s, dir) => {
      val ev = Envelope.readEvents(s, dir).select("event_id", "event_type", "value")
      graft.serde.ProtoWire.decodeEvents(graft.serde.ProtoWire.encodeEvents(ev), "proto")
        .orderBy("event_id")
    },
      """SELECT event_id, event_type, value FROM events ORDER BY event_id"""),

    // Descriptor-driven protobuf (serializer.py:108-123): a second,
    // differently-shaped message parsed from .proto text at runtime —
    // sint64 exercises zigzag, bool the varint-bool path, and absent
    // fields decode to proto3 defaults
    Q("q_serde_proto_generic", (s, dir) => {
      val descriptor =
        """syntax = "proto3";
          |message Doc {
          |  int64 doc_id = 1;
          |  string lang = 2;
          |  sint64 signed_len = 3;
          |  bool long_doc = 4;
          |  string text = 5;
          |}""".stripMargin
      val msg = graft.serde.ProtoWire.parseDescriptor(descriptor)
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
        .withColumn("signed_len", -col("n_chars"))
        .withColumn("long_doc", col("n_chars") > 500)
      graft.serde.ProtoWire.decode(
          graft.serde.ProtoWire.encode(docs, msg, keep = Nil), "proto", msg)
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, -n_chars AS signed_len, (n_chars > 500) AS long_doc, text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // nested-message + repeated-field protobuf roundtrip: struct column →
    // length-delimited submessage, arrays → packed (numeric) / per-element
    // (string) encodings, all back out through the descriptor decoder;
    // output flattened to scalars so the oracle compares plain columns
    Q("q_serde_proto_nested", (s, dir) => {
      val msg = graft.serde.ProtoWire.parseDescriptor(
        """message Doc {
          |  int64 doc_id = 1;
          |  Meta meta = 2;
          |  repeated string tags = 3;
          |  repeated int64 lens = 4;
          |  message Meta { string lang = 1; sint64 neg_chars = 2; }
          |}""".stripMargin)
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
        .select(col("doc_id"),
          struct(col("lang"), (-col("n_chars")).as("neg_chars")).as("meta"),
          array(col("source"), col("lang")).as("tags"),
          array(col("n_chars"), col("n_chars") * 2).as("lens"))
      graft.serde.ProtoWire.decode(
          graft.serde.ProtoWire.encode(docs, msg, keep = Nil), "proto", msg)
        .select(col("doc_id"),
          col("meta.lang").as("lang"), col("meta.neg_chars").as("neg_chars"),
          element_at(col("tags"), 1).as("tag1"), element_at(col("tags"), 2).as("tag2"),
          element_at(col("lens"), 1).as("len1"), element_at(col("lens"), 2).as("len2"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, -n_chars AS neg_chars, source AS tag1, lang AS tag2,
        |n_chars AS len1, n_chars * 2 AS len2
        |FROM documents ORDER BY doc_id""".stripMargin),

    // JSON-Schema payload validation (deserializer.py:27-43): compile the
    // schema to a StructType once, per-row valid/error columns instead of
    // the reference's per-row ValidationError. Three payload shapes are
    // synthesized deterministically: malformed (%11), missing a required
    // field (%7), valid (rest).
    // json_extract throws on malformed JSON in DuckDB — every extraction is
    // guarded by json_valid; json_extract returns SQL NULL for BOTH a
    // missing key and a JSON null, exactly matching Spark's get_json_object
    Q("q_serde_jsonschema", (s, dir) => {
      val schema =
        """{"type":"object","properties":{
          |"id":{"type":"integer"},"text":{"type":"string"},"lang":{"type":["string","null"]}},
          |"required":["id","text"]}""".stripMargin
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
      val payload = when(col("doc_id") % 11 === 0, lit("{not json"))
        .when(col("doc_id") % 7 === 0,
          to_json(struct(col("doc_id").as("id"), col("lang").as("lang"))))
        .otherwise(
          to_json(struct(col("doc_id").as("id"), col("text").as("text"), col("lang").as("lang"))))
      docs.select(col("doc_id"), payload.as("__p"))
        .select(col("doc_id"),
          graft.serde.JsonSchema.isValid(col("__p"), schema).as("valid"),
          graft.serde.JsonSchema.error(col("__p"), schema).as("error"),
          graft.serde.JsonSchema.decode(col("__p"), schema).getField("text").as("text"))
        .orderBy("doc_id")
    },
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN '{not json'
        |         WHEN doc_id % 7 = 0 THEN to_json(struct_pack(id := doc_id, lang := lang))::VARCHAR
        |         ELSE to_json(struct_pack(id := doc_id, text := text, lang := lang))::VARCHAR
        |    END AS payload
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, json_valid(payload) AS ok,
        |    CASE WHEN json_valid(payload) THEN json_extract(payload, '$.id') END AS jid,
        |    CASE WHEN json_valid(payload) THEN json_extract(payload, '$.text') END AS jtext,
        |    CASE WHEN json_valid(payload) THEN json_extract_string(payload, '$.text') END AS text
        |  FROM p)
        |SELECT doc_id,
        |  (ok AND jid IS NOT NULL AND jtext IS NOT NULL) AS valid,
        |  CASE WHEN NOT ok THEN 'malformed'
        |       WHEN jid IS NULL THEN 'missing:id'
        |       WHEN jtext IS NULL THEN 'missing:text'
        |       ELSE NULL END AS error,
        |  text
        |FROM v ORDER BY doc_id""".stripMargin),

    // nested `required`: a nested object's required list applies only when
    // the object is present — %11 rows omit meta entirely (valid: meta
    // itself is optional), %7 rows send meta without its required member
    // (invalid: missing:meta.src)
    // all payloads are well-formed objects here, so json_extract is safe
    // unguarded; presence semantics identical to get_json_object
    Q("q_serde_jsonschema_nested", (s, dir) => {
      val schema =
        """{"type":"object","properties":{
          |"id":{"type":"integer"},
          |"meta":{"type":"object","properties":{"src":{"type":"string"}},"required":["src"]}},
          |"required":["id"]}""".stripMargin
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
      val payload = when(col("doc_id") % 11 === 0,
          to_json(struct(col("doc_id").as("id"))))
        .when(col("doc_id") % 7 === 0,
          to_json(struct(col("doc_id").as("id"), struct(col("lang").as("x")).as("meta"))))
        .otherwise(
          to_json(struct(col("doc_id").as("id"), struct(col("source").as("src")).as("meta"))))
      docs.select(col("doc_id"), payload.as("__p"))
        .select(col("doc_id"),
          graft.serde.JsonSchema.isValid(col("__p"), schema).as("valid"),
          graft.serde.JsonSchema.error(col("__p"), schema).as("error"))
        .orderBy("doc_id")
    },
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN to_json(struct_pack(id := doc_id))::VARCHAR
        |         WHEN doc_id % 7 = 0 THEN to_json(struct_pack(id := doc_id, meta := struct_pack(x := lang)))::VARCHAR
        |         ELSE to_json(struct_pack(id := doc_id, meta := struct_pack(src := source)))::VARCHAR
        |    END AS payload
        |  FROM documents),
        |v AS (
        |  SELECT doc_id,
        |    json_extract(payload, '$.id') IS NOT NULL AS has_id,
        |    json_extract(payload, '$.meta') IS NOT NULL AS has_meta,
        |    json_extract(payload, '$.meta.src') IS NOT NULL AS has_src
        |  FROM p)
        |SELECT doc_id,
        |  (has_id AND (NOT has_meta OR has_src)) AS valid,
        |  CASE WHEN NOT has_id THEN 'missing:id'
        |       WHEN has_meta AND NOT has_src THEN 'missing:meta.src'
        |       ELSE NULL END AS error
        |FROM v ORDER BY doc_id""".stripMargin),

    // map<K,V> + oneof through the wire codec: encode documents into a
    // message with a string→int64 map and a two-member oneof, decode back,
    // explode the map to verifiable (key, value) rows. source/lang value
    // domains are disjoint in the corpus (srcN vs ISO codes) so the map
    // builder never sees a duplicate key.
    // the map explodes to one row per entry; the oneof members reconstruct
    // from the same predicate that routed them
    Q("q_serde_proto_map", (s, dir) => {
      val descriptor =
        """message DocM {
          |  int64 doc_id = 1;
          |  map<string, int64> kv = 2;
          |  oneof body { string text_val = 3; int64 num_val = 4; }
          |}""".stripMargin
      val msg = graft.serde.ProtoWire.parseDescriptor(descriptor)
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
        .select(col("doc_id"),
          map(col("source"), col("n_chars").cast("long"),
            col("lang"), pmod(col("doc_id"), lit(97)).cast("long")).as("kv"),
          when(col("n_chars") > 500, col("text")).as("text_val"),
          when(col("n_chars") <= 500, col("n_chars").cast("long")).as("num_val"))
      graft.serde.ProtoWire.decode(
          graft.serde.ProtoWire.encode(docs, msg, keep = Nil), "proto", msg)
        .select(col("doc_id"), explode(col("kv")), col("text_val"), col("num_val"))
        .orderBy("doc_id", "key")
    },
      """WITH base AS (
        |  SELECT doc_id, source AS k1, CAST(n_chars AS BIGINT) AS v1,
        |    lang AS k2, CAST(doc_id % 97 AS BIGINT) AS v2,
        |    CASE WHEN n_chars > 500 THEN text END AS text_val,
        |    CASE WHEN n_chars <= 500 THEN CAST(n_chars AS BIGINT) END AS num_val
        |  FROM documents)
        |SELECT doc_id, key, value, text_val, num_val FROM (
        |  SELECT doc_id, k1 AS key, v1 AS value, text_val, num_val FROM base
        |  UNION ALL
        |  SELECT doc_id, k2, v2, text_val, num_val FROM base)
        |ORDER BY doc_id, key""".stripMargin),

    // NON-OBJECT root schema — the reference's jsonschema_no_dict key case
    // (test_single_storage_base.py:test_produce_consume_jsonschema_no_dict_key):
    // bare JSON numbers validate against an integer root, quoted strings
    // and malformed text do not
    // scalar-root validation: TRY_CAST replays the wrapper decode — bare
    // numbers cast, quoted strings and broken JSON do not
    Q("q_serde_jsonschema_scalar", (s, dir) => {
      val intRoot = """{"type":"integer"}"""
      val docs = TableCache.parquet(s, s"$dir/documents.parquet")
      val payload = when(col("doc_id") % 11 === 0, lit("{bad"))
        .when(col("doc_id") % 7 === 0,
          concat(lit("\""), coalesce(col("lang"), lit("xx")), lit("\"")))
        .otherwise(col("doc_id").cast("string"))
      docs.select(col("doc_id"), payload.as("__p"))
        .select(col("doc_id"),
          graft.serde.JsonSchema.decode(col("__p"), intRoot).as("val"),
          graft.serde.JsonSchema.isValid(col("__p"), intRoot).as("valid"),
          graft.serde.JsonSchema.error(col("__p"), intRoot).as("error"))
        .orderBy("doc_id")
    },
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN '{bad'
        |         WHEN doc_id % 7 = 0 THEN '"' || coalesce(lang, 'xx') || '"'
        |         ELSE CAST(doc_id AS VARCHAR)
        |    END AS payload
        |  FROM documents),
        |v AS (SELECT doc_id, TRY_CAST(payload AS BIGINT) AS val FROM p)
        |SELECT doc_id, val, (val IS NOT NULL) AS valid,
        |  CASE WHEN val IS NULL THEN 'malformed' ELSE NULL END AS error
        |FROM v ORDER BY doc_id""".stripMargin),

    // recursive flattener (helpers.py:283-303)
    Q("q_explode_normalize", (s, dir) => {
      val ev = Envelope.readEvents(s, dir).withColumnRenamed("value", "amount")
      val nested = ev.select(
        col("event_id"),
        struct(col("user_id").as("id"), col("user_id").cast("string").as("name")).as("user"),
        array(
          struct(lit("amount").as("mname"), col("amount").as("mval")),
          struct(lit("half").as("mname"), (col("amount") / 2).as("mval"))).as("metrics"))
      Flatten.explodeNormalize(nested)
        .orderBy("event_id", "metrics_mname")
    },
      """SELECT * FROM (
        |  SELECT event_id, user_id AS user_id, CAST(user_id AS VARCHAR) AS user_name,
        |         'amount' AS metrics_mname, value AS metrics_mval FROM events
        |  UNION ALL
        |  SELECT event_id, user_id, CAST(user_id AS VARCHAR), 'half', value / 2 FROM events
        |) ORDER BY event_id, metrics_mname""".stripMargin))
}
