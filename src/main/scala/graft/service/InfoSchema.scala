package graft.service

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.engine.Engine

/** `information_schema` shim: Trino clients introspect
  * `information_schema.tables` / `information_schema.columns` through
  * the unrestricted query pass-through (reference
  * internal/trino/client.go:284-290 — the remote Trino serves these
  * natively). Spark's session catalog has no such schema, so the
  * statement builder ([[Statements]]) binds each parsed reference to a
  * relation built here from `spark.catalog` listings at query time,
  * allowlist-filtered exactly like the metadata tools. Nothing is
  * registered in the session catalog.
  *
  * The listings are driver-side metadata (bounded by table count, never
  * by data volume), so building them per query is safe at any corpus
  * scale. Supported spellings: `information_schema.tables`, an optional
  * catalog qualifier (`memory.information_schema.columns`), any case,
  * quoted or not — the names are matched on the parsed plan, so
  * string literals and comments never match.
  */
object InfoSchema {

  /** The shim a parsed relation name stands for —
    * `[catalog.]information_schema.tables|columns|schemata|views` — or
    * None for any other name. */
  def relation(engine: Engine, parts: Seq[String]): Option[DataFrame] = {
    val table = parts.map(_.toLowerCase) match {
      case Seq("information_schema", t) => t
      case Seq(_, "information_schema", t) => t
      case _ => ""
    }
    table match {
      case "tables" => Some(tables(engine))
      case "columns" => Some(columns(engine))
      case "schemata" => Some(schemata(engine))
      // no SQL views exist in the embedded catalog (testdata relations
      // surface as BASE TABLEs) — an EMPTY relation with Trino's column
      // shape, not an unsupported-reference error
      case "views" => Some(local(engine, Seq.empty, viewsSchema))
      case _ => None
    }
  }

  private val tablesSchema = StructType(Seq(
    StructField("table_catalog", StringType, nullable = false),
    StructField("table_schema", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("table_type", StringType, nullable = false)))

  private val columnsSchema = StructType(Seq(
    StructField("table_catalog", StringType, nullable = false),
    StructField("table_schema", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("column_name", StringType, nullable = false),
    StructField("ordinal_position", LongType, nullable = false),
    StructField("column_default", StringType, nullable = true),
    StructField("is_nullable", StringType, nullable = false),
    StructField("data_type", StringType, nullable = false)))

  /** Every allowed catalog contributes its namespaces — the default
    * catalog through the engine's configured (catalog, schema) pair
    * (temp-view namespace), other catalogs (tpch.tiny) through their
    * own listings. table_catalog distinguishes rows, so a consumer
    * filters with WHERE table_catalog = '…' exactly as in Trino.
    * (Divergence kept: Trino scopes information_schema PER catalog;
    * this shim serves one merged relation — DIALECT.md.) Filtered via
    * MetadataService — the same trust boundary as list_tables /
    * get_table_schema. */
  private def tablesByNamespace(meta: MetadataService, engine: Engine)
      : Seq[(String, String, Seq[String])] = {
    val cat = engine.config.catalog
    ((cat, engine.config.schema) +: meta.listCatalogs().filterNot(_.equalsIgnoreCase(cat))
      .flatMap(c => meta.listSchemas(c).map(s => (c, s))))
      .map { case (c, s) => (c, s, meta.listTables(c, s)) }
  }

  private def tables(engine: Engine): DataFrame = {
    val meta = new MetadataService(engine)
    local(engine, tablesByNamespace(meta, engine).flatMap { case (c, s, tables) =>
      tables.map(t => Row(c, s, t, "BASE TABLE")) }, tablesSchema)
  }

  private def columns(engine: Engine): DataFrame = {
    val meta = new MetadataService(engine)
    local(engine, tablesByNamespace(meta, engine).flatMap { case (c, s, tables) =>
      tables.flatMap { t =>
        meta.getTableSchema(c, s, t).toOption.toSeq.flatten.zipWithIndex.map {
          case (col, i) =>
            Row(c, s, t, col("Column").toString, (i + 1).toLong,
              null, "YES", col("Type").toString)
        }
      }
    }, columnsSchema)
  }

  /** Allowlist-filtered schema listing (Trino shape: catalog_name,
    * schema_name) across the same catalogs. */
  private def schemata(engine: Engine): DataFrame = {
    val meta = new MetadataService(engine)
    val cat = engine.config.catalog
    local(engine, meta.listSchemas(cat).map(s => Row(cat, s)) ++
      meta.listCatalogs().filterNot(_.equalsIgnoreCase(cat))
        .flatMap(c => meta.listSchemas(c).map(s => Row(c, s))), schemataSchema)
  }

  private def local(engine: Engine, rows: Seq[Row], schema: StructType): DataFrame =
    engine.spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)

  private val schemataSchema = StructType(Seq(
    StructField("catalog_name", StringType, nullable = false),
    StructField("schema_name", StringType, nullable = false)))

  private val viewsSchema = StructType(Seq(
    StructField("table_catalog", StringType, nullable = false),
    StructField("table_schema", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("view_definition", StringType, nullable = true)))
}
