package graft.service

import java.util.UUID

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.graft.ColumnBridge

import graft.dialect.{MatchRecognize, TrinoFunctions}
import graft.engine.Engine
import graft.security.SqlAllowlist

/** The statement builder: the one place Trino statement text becomes a
  * DataFrame, for every served path — execute_query and its EXPLAIN,
  * EXPLAIN ANALYZE, SHOW STATS FOR (q) and DESCRIBE OUTPUT forms, and
  * the explain_query tool. One pipeline:
  *
  *   1. dialect preprocess ([[TrinoFunctions.preprocess]]);
  *   2. MATCH_RECOGNIZE splice: each `<relation> MATCH_RECOGNIZE (…)`
  *      span is computed and replaced by a placeholder name bound to the
  *      result's plan (its source relation is built by this same
  *      pipeline, so nested clauses and the gate apply to it too);
  *   3. parse once; one scope-aware walk ([[UseStatement.qualify]])
  *      substitutes the statement's internal relations — the
  *      MATCH_RECOGNIZE results and the information_schema shims — into
  *      the plan and qualifies the rest to the `USE` namespace;
  *   4. the opt-in SQL allowlist gate over the bound plan: internal
  *      relations are plans by now, so only names the client wrote are
  *      judged;
  *   5. analysis ([[ColumnBridge.ofRows]]).
  *
  * Nothing is written to the shared session catalog: a statement's
  * internal relations live in its plan only, so concurrent statements
  * and the metadata listings never see them. */
object Statements {

  def build(engine: Engine, sql: String): Either[String, DataFrame] = {
    val first = buildWith(engine, sql, TrinoFunctions.PreprocessOpts())
    first match {
      case Left(err) =>
        // Type-aware retry: two textual forms are ambiguous without
        // types, and their default readings fail analysis with a
        // recognizable signature. Re-preprocess under the alternate
        // reading; if that also fails, surface the FIRST error (it
        // carries the curated workaround text).
        val up = sql.toUpperCase
        val wantSplat = up.contains("UNNEST") &&
          (err.contains("UDTF_ALIAS_NUMBER_MISMATCH") ||
            (err.contains("number of aliases") && err.contains("explode")))
        val wantTies = up.contains("WITH TIES") &&
          (err.contains("UNRESOLVED_COLUMN") ||      // key not projected
            err.contains("MISSING_GROUP_BY"))        // key is an aggregate
        if (!wantSplat && !wantTies) first
        else buildWith(engine, sql, TrinoFunctions.PreprocessOpts(
          unnestRowSplat = wantSplat, tiesInBlock = wantTies)).orElse(first)
      case ok => ok
    }
  }

  private def buildWith(engine: Engine, sql: String,
      opts: TrinoFunctions.PreprocessOpts): Either[String, DataFrame] = {
    val pre =
      try TrinoFunctions.preprocess(sql, opts)
      catch { case e: IllegalArgumentException => return Left(e.getMessage) }
    val results = scala.collection.mutable.Map.empty[String, LogicalPlan]
    val spliced =
      if (!MatchRecognize.contains(pre)) Right(pre)
      else
        try MatchRecognize.spliceAll(pre,
          relation => bind(engine, s"SELECT * FROM $relation", results)
            .fold(err => throw new IllegalArgumentException(err), identity),
          result => {
            val name = s"graft_mr_${UUID.randomUUID().toString.replace("-", "")}"
            results(name) = result.queryExecution.analyzed
            name
          })
        catch { case e: Throwable => Left(s"query execution failed: ${clip(e)}") }
    spliced.flatMap(bind(engine, _, results))
  }

  /** Parse, bind internal relations and qualify, gate, analyze. */
  private def bind(engine: Engine, sql: String,
      results: collection.Map[String, LogicalPlan]): Either[String, DataFrame] =
    try {
      val namespace =
        if (engine.sessionCatalog.equalsIgnoreCase(engine.config.catalog) &&
            engine.sessionSchema.equalsIgnoreCase(engine.config.schema)) None
        else Some((engine.sessionCatalog, engine.sessionSchema))
      val plan = UseStatement.qualify(
          engine.spark.sessionState.sqlParser.parsePlan(sql), namespace) { parts =>
        val internal = parts match {
          case Seq(name) => results.get(name)
          case _ => InfoSchema.relation(engine, parts).map(_.queryExecution.analyzed)
        }
        internal.map(SubqueryAlias(parts, _))
      }
      val denied =
        if (!engine.config.enforceSqlAllowlists) None
        else SqlAllowlist.check(plan, engine.allowlists,
          engine.sessionCatalog, engine.sessionSchema)
      denied.toLeft(ColumnBridge.ofRows(engine.spark, plan))
    } catch { case e: Throwable => Left(s"query execution failed: ${clip(e)}") }

  private[service] def clip(e: Throwable): String = {
    val m0 = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
    // UNNEST(array_of_2_field_rows) AS t(a, b) is textually ambiguous
    // with UNNEST(map) — the dialect routes 2 aliases to explode()
    // first and build retries the inline() reading when that fails
    // analysis. Reaching THIS message means both readings failed (e.g.
    // the element row has ≠2 fields); name the workaround.
    val m =
      if (m0.contains("UDTF_ALIAS_NUMBER_MISMATCH") ||
          (m0.contains("number of aliases") && m0.contains("explode")))
        m0 + " — UNNEST with two aliases takes a MAP or an " +
          "ARRAY(ROW(a, b)) (both readings were tried); for other " +
          "element shapes select the row fields instead: CROSS JOIN " +
          "UNNEST(x) AS t(r) then r.a, r.b"
      else m0
    if (m.length > 800) m.take(800) + "…" else m
  }
}
