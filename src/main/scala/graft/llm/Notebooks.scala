package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.serde.Json

/** Jupyter-notebook ingestion (round 13): code corpora are full of
  * .ipynb files, and the cells — not the raw JSON — are the training
  * text. Unlike the byte-level container walks ([[Pdf]], [[Archives]])
  * this layer is FULLY DECLARATIVE: nbformat is JSON, so the right
  * Spark-first form is `from_json` with a typed cells schema plus
  * `posexplode` — no custom kernel, no mapPartitions, and Catalyst
  * sees through the whole thing (prunes unused fields, pushes filters
  * below the explode where legal, keeps everything in codegen).
  *
  * The one real format wrinkle is carried explicitly: nbformat-4
  * declares `source` as EITHER an array of lines (the common on-disk
  * form, each line keeping its trailing \n) or a single string. A
  * one-schema parse silently nulls the other form, so the column is
  * parsed under BOTH schemas and coalesced per cell — the fixture
  * plants string-form cells to keep that path load-bearing. Extra
  * fields (metadata, outputs, execution_count) are ignored by
  * from_json's schema projection, which is exactly the admission
  * posture: never decode what the pipeline does not read.
  *
  * Corrupt input: from_json yields null structs (PERMISSIVE), so bad
  * JSON rows simply emit no cells — same never-throw posture as every
  * other walk, enforced here by the engine rather than by hand.
  *
  * Reference scope: kafi reads JSON payloads generically
  * (kafi/serde via json.loads) but has no notebook surface; this is
  * LLM-pipeline extension breadth.
  */
object Notebooks {

  private val arrSchema: DataType = DataType.fromDDL(
    "STRUCT<nbformat: INT, cells: ARRAY<STRUCT<cell_type: STRING, source: ARRAY<STRING>>>>")
  private val strSchema: DataType = DataType.fromDDL(
    "STRUCT<cells: ARRAY<STRUCT<cell_type: STRING, source: STRING>>>")

  /** One row per cell: (idCol, cell_idx, cell_type, source, n_chars).
    * `source` is the cell text with array-of-lines form joined as-is
    * (lines already carry their newlines per the format). */
  def cells(df: DataFrame, idCol: String, jsonCol: Column): DataFrame = {
    val a = from_json(jsonCol, arrSchema)
    df
      .select(col(idCol), jsonCol.as("__json"),
        posexplode(a.getField("cells")).as(Seq("cell_idx", "cell")))
      .select(
        col(idCol),
        col("cell_idx"),
        col("cell").getField("cell_type").as("cell_type"),
        // coalesce short-circuits in codegen: the second from_json (the
        // string-schema reparse) runs ONLY for string-form cells, so
        // the common array-form corpus pays ONE parse per row, not two
        coalesce(
          array_join(col("cell").getField("source"), ""),
          element_at(from_json(col("__json"), strSchema).getField("cells"),
            col("cell_idx") + 1).getField("source"))
          .as("source"))
      .withColumn("n_chars", length(col("source")).cast("long"))
  }

  /** Concatenated code-cell text per notebook — the form a code-corpus
    * dedup/quality pass consumes (cells joined with \n). */
  def codeText(df: DataFrame, idCol: String, jsonCol: Column): DataFrame =
    cells(df, idCol, jsonCol)
      .filter(col("cell_type") === "code")
      .groupBy(col(idCol))
      // collect_list is shuffle-order-dependent: sort by the leading
      // cell_idx struct field, THEN project source
      .agg(concat_ws("\n", transform(
        array_sort(collect_list(struct(col("cell_idx"), col("source")))),
        _.getField("source"))).as("code"))

  // ------------------------------------------------------------------
  // Fixture writer: real nbformat-4 JSON (schema-extra fields included
  // so projection is load-bearing)
  // ------------------------------------------------------------------

  /** A notebook with `cells` = (cell_type, full text, asArray): array
    * form splits the text AFTER each \n (nbformat's line form);
    * string form embeds it whole. Outputs/metadata/execution_count
    * noise included. */
  def syntheticIpynb(cellSpecs: Seq[(String, String, Boolean)]): String = {
    val cellJson = cellSpecs.map { case (tpe, text, asArray) =>
      val src =
        if (asArray) {
          // split keeping the \n on each line (nbformat line form)
          val parts = Seq.newBuilder[String]
          var start = 0
          var i = 0
          while (i < text.length) {
            if (text.charAt(i) == '\n') { parts += text.substring(start, i + 1); start = i + 1 }
            i += 1
          }
          if (start < text.length) parts += text.substring(start)
          parts.result().map(Json.quote).mkString("[", ", ", "]")
        } else Json.quote(text)
      val extra =
        if (tpe == "code")
          """, "execution_count": 2, "outputs": [{"output_type": "stream", "text": ["x\n"]}]"""
        else ""
      s"""{"cell_type": "$tpe", "metadata": {"tags": ["t"]}, "source": $src$extra}"""
    }.mkString("[", ", ", "]")
    s"""{"nbformat": 4, "nbformat_minor": 5, "metadata": {"kernelspec": {"name": "python3"}}, "cells": $cellJson}"""
  }
}
