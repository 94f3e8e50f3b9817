package graft.security

import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
import org.apache.spark.sql.execution.command.ExplainCommand

/** OPT-IN allowlist enforcement inside arbitrary SQL — hardening BEYOND
  * the reference, which gates only the metadata tools (listings +
  * get_table_schema; `execute_query` SQL passes through unchecked, see
  * DIALECT.md "Allowlists inside arbitrary SQL"). When
  * `GRAFT_ENFORCE_SQL_ALLOWLISTS=true`, every relation a query
  * references is resolved with the reference's 3/2/1-part rules and
  * checked against the same catalog/schema/table allowlists the
  * metadata surface uses, BEFORE analysis — a denied query never
  * reaches the catalog.
  *
  * The walk runs on the PARSED (unresolved) tree: relation names are
  * judged as written, subqueries included. CTE-bound names are exempt
  * only WHERE THEIR DEFINING WITH IS IN SCOPE — the walk carries the
  * set of visible CTE names down the tree (a CTE body sees the outer
  * scope plus the names defined so far in its own WITH clause, the
  * main query sees them all), so a name bound only inside a nested
  * WITH does not exempt uses at the outer level where it would resolve
  * to a real table. The statement builder (graft.service.Statements)
  * gates AFTER binding its internal relations into the plan: a
  * MATCH_RECOGNIZE result (whose source relation was gated on its own)
  * and an information_schema shim (allowlist-filtered when built) are
  * plans by then, not names, so only names the client wrote are judged.
  * `EXPLAIN <q>` walks the explained query.
  */
object SqlAllowlist {

  /** First allowlist violation in the plan, or None when clean. */
  def check(plan: LogicalPlan, lists: Allowlists,
      defaultCatalog: String, defaultSchema: String): Option[String] = {

    def checkName(parts: Seq[String], scope: Set[String]): Option[String] = {
      if (parts.length == 1 && scope(parts.head.toLowerCase)) None
      else {
        val (c, s, t) = parts match {
          case Seq(t1) => (defaultCatalog, defaultSchema, t1)
          case Seq(s1, t1) => (defaultCatalog, s1, t1)
          case _ => (parts(0), parts(1), parts.drop(2).mkString("."))
        }
        if (lists.allowedCatalogs.nonEmpty && !lists.isCatalogAllowed(c))
          Some(s"catalog access denied: $c not in allowlist")
        else if (lists.allowedSchemas.nonEmpty && !lists.isSchemaAllowed(c, s))
          Some(s"schema access denied: $c.$s not in allowlist")
        else lists.tableAccessError(c, s, t)
      }
    }

    def first(plans: Iterable[LogicalPlan], scope: Set[String]): Option[String] =
      plans.iterator.flatMap(walk(_, scope)).take(1).toSeq.headOption

    def walk(p: LogicalPlan, scope: Set[String]): Option[String] = p match {
      // EXPLAIN wraps its query as a non-child field — surface it.
      case e: ExplainCommand => walk(e.logicalPlan, scope)
      case w: UnresolvedWith =>
        // Bodies are walked with the scope accumulated left-to-right
        // (SQL lets a CTE reference the ones defined before it; adding
        // its own name too is a harmless over-approximation — Spark
        // rejects self-reference at analysis). The main query sees all.
        var s = scope
        val fromBodies = w.cteRelations.iterator.flatMap { rel =>
          s = s + rel._1.toLowerCase
          walk(rel._2, s)
        }.take(1).toSeq.headOption
        fromBodies.orElse(walk(w.child, s))
      case r: UnresolvedRelation => checkName(r.multipartIdentifier, scope)
      case t: UnresolvedTableOrView => checkName(t.multipartIdentifier, scope)
      case other =>
        // children in the same scope, plus plans nested inside
        // expressions (scalar/IN/EXISTS subqueries)
        val nested = other.expressions.flatMap(_.collect {
          case sq: SubqueryExpression => sq.plan
        })
        first(other.children ++ nested, scope)
    }

    walk(plan, Set.empty)
  }
}
