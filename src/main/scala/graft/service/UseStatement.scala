package graft.service

import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias,
  SupervisingCommand, UnresolvedWith}

import graft.engine.Engine

/** Trino's `USE catalog.schema` / `USE schema` — sets the session's
  * default namespace for everything that resolves partial names: plain
  * SQL, the metadata tools' empty-catalog defaults, DESCRIBE/SHOW
  * statement routing, and the opt-in SQL allowlist resolution. The
  * reference passes USE through to Trino, where the session defaults
  * ride the X-Trino-Catalog/Schema headers; the embedded analog stores
  * them on the engine (one engine = one logical session, like the
  * prepared-statement store).
  *
  * Resolution mechanics: the engine's default-catalog tables are
  * session temp views, and Spark resolves an unqualified name to a
  * temp view BEFORE consulting the current catalog — so merely setting
  * Spark's current namespace would leave `USE tpch.tiny; SELECT * FROM
  * customer` reading the default catalog's view (the wrong table,
  * silently). Instead, when the session namespace differs from the
  * configured default, the statement builder ([[Statements]]) QUALIFIES
  * every unresolved 1/2-part relation of the parsed statement to the
  * session namespace (3-part names resolve as written) with the same
  * scope-aware CTE walk the SQL allowlist uses, then analyzes the
  * rewritten plan — Trino's resolution order, enforced at parse level.
  */
object UseStatement {

  private val UseRe =
    """(?is)^\s*USE\s+([A-Za-z_]\w*)(?:\s*\.\s*([A-Za-z_]\w*))?\s*$""".r

  /** Some((catalogOpt, schema)) for USE statements. */
  def matchUse(sql: String): Option[(Option[String], String)] = sql match {
    case UseRe(a, null) => Some((None, a))
    case UseRe(a, b) => Some((Some(a), b))
    case _ => None
  }

  /** Validate the target against the (allowlist-filtered) metadata
    * surface and update the engine session. Trino's error texts. */
  def apply(engine: Engine, catalogOpt: Option[String], schema: String):
      Either[String, Unit] = try {
    val meta = new MetadataService(engine)
    val catalog = catalogOpt.getOrElse(engine.sessionCatalog)
    if (!meta.listCatalogs().exists(_.equalsIgnoreCase(catalog)))
      Left(s"Catalog does not exist: $catalog")
    else if (!meta.listSchemas(catalog).exists(_.equalsIgnoreCase(schema)))
      Left(s"Schema does not exist: $catalog.$schema")
    else {
      engine.sessionCatalog = catalog
      engine.sessionSchema = schema
      Right(())
    }
  } catch {
    // same try/catch-to-Left rule as the SHOW routes: a throwing
    // catalog plugin must surface as a tool error, never a crash
    case e: Throwable =>
      Left(s"query execution failed: ${String.valueOf(e.getMessage).take(300)}")
  }

  /** Bind and qualify the relations a parsed statement reads, in one
    * scope-aware walk. `internal` returns the plan a relation name
    * stands for when the statement supplies one (its MATCH_RECOGNIZE
    * results, the information_schema shims); every other 1/2-part name
    * is qualified to `namespace` when one is given (3-part names resolve
    * as written). CTE-bound names stay as written where their defining
    * WITH is in scope (same walk as SqlAllowlist). The walk reaches CTE
    * bodies, subquery expressions and the query a supervising command
    * (EXPLAIN, DESCRIBE QUERY) wraps. */
  def qualify(plan: LogicalPlan, namespace: Option[(String, String)])(
      internal: Seq[String] => Option[LogicalPlan]): LogicalPlan = {
    def rewName(parts: Seq[String]): Seq[String] = (parts, namespace) match {
      case (Seq(t), Some((c, s))) => Seq(c, s, t)
      case (Seq(s1, t), Some((c, _))) => Seq(c, s1, t)
      case _ => parts
    }
    def rew(p: LogicalPlan, scope: Set[String]): LogicalPlan = p match {
      case c: SupervisingCommand => c.withTransformedSupervisedPlan(rew(_, scope))
      case w: UnresolvedWith =>
        var s = scope
        val newRels = w.cteRelations.map { rel =>
          s = s + rel._1.toLowerCase
          rel.copy(_2 = rew(rel._2, s).asInstanceOf[SubqueryAlias])
        }
        val scopeAll = s
        w.copy(child = rew(w.child, scopeAll), cteRelations = newRels)
      case r: UnresolvedRelation =>
        val parts = r.multipartIdentifier
        if (parts.length == 1 && scope(parts.head.toLowerCase)) r
        else internal(parts).getOrElse {
          val q = rewName(parts)
          if (q == parts) r else UnresolvedRelation(q, r.options, r.isStreaming)
        }
      case other =>
        val withChildren = other.mapChildren(rew(_, scope))
        withChildren.transformExpressions {
          case sq: SubqueryExpression => sq.withNewPlan(rew(sq.plan, scope))
        }
    }
    rew(plan, Set.empty)
  }
}
