package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge

import graft.config.EngineConfig
import graft.dialect.{MatchRecognize, TrinoFunctions}
import graft.engine.Engine
import graft.mcp.{HttpTransport, StdioServer}
import graft.queries.TpchSql
import graft.security.ReadOnlyGuard
import graft.service.{ExplainService, ExplainStatements, Json, MetadataService,
  PreparedStatements, QueryService, SessionProps, ShowFunctions, ShowMeta, ShowStats,
  UseStatement}

/** Prints the served statements the benchmark replays, with their DuckDB
  * oracle text: the 22 TpchSql statements and every `mr_*` oracle. */
object DumpStatements {
  def main(args: Array[String]): Unit = {
    val mr = graft.SparkEntry.oracleSql.filter(_._1.startsWith("mr_"))
    println(Json.write(ListMap(
      "tpch" -> ListMap(TpchSql.oracles.toSeq.sortBy(_._1): _*),
      "mr_oracles" -> ListMap(mr.toSeq.sortBy(_._1): _*))))
  }
}

/** Per-job-group execution counters, fed by one SparkListener. */
final class GroupStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var jobStartMs = Long.MaxValue; var jobEndMs = 0L
  var taskRunMs = 0L; var gcMs = 0L; var taskWaitMs = 0L
  var recordsRead = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L

  def toMap: ListMap[String, Any] = ListMap(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "exec_ms" -> (if (jobs == 0) 0L else jobEndMs - jobStartMs),
    "task_run_ms" -> taskRunMs, "gc_ms" -> gcMs, "task_wait_ms" -> taskWaitMs,
    "records_read" -> recordsRead, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes)
}

/** Keys every job, stage and task by the job-group id the service
  * assigns to each query (`spark.jobGroup.id`). */
final class GroupListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { id =>
      val s = stats(id)
      s.synchronized {
        s.jobs += 1; s.stages += e.stageIds.size
        s.jobStartMs = math.min(s.jobStartMs, e.time)
      }
      e.stageIds.foreach(st => stageGroup.put(st, id))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitted.put(e.stageInfo.stageId, java.lang.Long.valueOf(t)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { id =>
      val s = stats(id)
      val m = Option(e.taskMetrics)
      s.synchronized {
        s.tasks += 1
        s.jobEndMs = math.max(s.jobEndMs, e.taskInfo.finishTime)
        Option(stageSubmitted.get(e.stageId)).foreach(t =>
          s.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
        m.foreach { tm =>
          s.taskRunMs += tm.executorRunTime
          s.gcMs += tm.jvmGCTime
          s.recordsRead += tm.inputMetrics.recordsRead
          s.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
          s.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        }
      }
    }

  def get(group: String): ListMap[String, Any] =
    Option(groups.get(group)).map(s => s.synchronized(s.toMap)).getOrElse(new GroupStats().toMap)
}

/** Spans of one replayed operation: (name, startNs, endNs, parentIndex). */
final class Spans {
  val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Int)]
  private var open = List(-1)

  def apply[T](name: String)(body: => T): T = {
    val idx = buf.length
    buf += ((name, System.nanoTime(), 0L, open.head))
    open = idx :: open
    try body
    finally {
      open = open.tail
      val (n, s, _, p) = buf(idx)
      buf(idx) = (n, s, System.nanoTime(), p)
    }
  }

  def toSeq: Seq[Seq[Any]] = buf.toSeq.map { case (n, s, e, p) => Seq(n, s, e, p.toLong) }
}

/** The unmodified server, with its `handle` timed. After a
  * reply, a `bench/trace` frame for the same op id replays that op one
  * layer at a time, calling each layer's public functions, and returns
  * the spans plus the Spark listener's counts for the query's job group. */
final class TracedServer(engine: Engine, listener: GroupListener)
    extends StdioServer(engine) {

  private final case class Served(frame: String, reply: String, handleNs: Long)
  private val served = new ConcurrentHashMap[String, Served]()
  private lazy val queries = new QueryService(engine)
  private lazy val metadata = new MetadataService(engine)
  private lazy val explains = new ExplainService(engine)

  override def handle(line: String): Option[String] =
    if (line.contains("\"bench/trace\"")) Some(trace(line))
    else {
      val t0 = System.nanoTime()
      val out = super.handle(line)
      val dt = System.nanoTime() - t0
      val id = idOf(line)
      if (id.nonEmpty) served.put(id, Served(line, out.getOrElse(""), dt))
      out
    }

  private def idOf(frame: String): String =
    try Json.parse(frame).asInstanceOf[collection.Map[String, Any]].get("id")
      .map(String.valueOf).getOrElse("")
    catch { case _: Throwable => "" }

  private def trace(line: String): String = {
    val req = Json.parse(line).asInstanceOf[collection.Map[String, Any]]
    val params = req("params").asInstanceOf[collection.Map[String, Any]]
    val op = String.valueOf(params("op"))
    val s = served.remove(op)
    val result: ListMap[String, Any] =
      if (s == null) ListMap("error" -> s"no served op $op")
      else {
        val spans = new Spans
        val rows = replay(s.frame, spans)
        val group = "graft-query-[0-9a-f-]{36}".r.findFirstIn(s.reply).getOrElse("")
        ListMap("handle_ns" -> s.handleNs, "rows" -> rows.toLong, "spans" -> spans.toSeq,
          "exec" -> (if (group.isEmpty) ListMap.empty[String, Any] else settled(group)))
      }
    Json.write(ListMap("jsonrpc" -> "2.0", "id" -> req.get("id").orNull, "result" -> result))
  }

  /** Listener events arrive asynchronously; wait until the group's
    * counters stop changing (bounded). */
  private def settled(group: String): ListMap[String, Any] = {
    var last = listener.get(group)
    var tries = 0
    while (tries < 20) {
      Thread.sleep(10)
      val now = listener.get(group)
      if (now == last) return now
      last = now; tries += 1
    }
    last
  }

  /** Re-walks one op through the layers; returns the result row count. */
  private def replay(frame: String, sp: Spans): Int = {
    val req = sp("json.parse")(Json.parse(frame)).asInstanceOf[collection.Map[String, Any]]
    val params = req.get("params").collect { case m: collection.Map[_, _] =>
      m.asInstanceOf[collection.Map[String, Any]] }.getOrElse(Map.empty[String, Any])
    val args = params.get("arguments").collect { case m: collection.Map[_, _] =>
      m.asInstanceOf[collection.Map[String, Any]] }.getOrElse(Map.empty[String, Any])
    def str(k: String): String = args.get(k).map(String.valueOf).getOrElse("")
    def write(payload: => Any): Unit = sp("json.write") {
      val text = payload match { case t: String => t; case p => Json.write(p, indent = 2) }
      Json.write(ListMap("jsonrpc" -> "2.0", "id" -> req.get("id").orNull, "result" ->
        ListMap("content" -> Seq(ListMap("type" -> "text", "text" -> text)), "isError" -> false)))
    }
    req.get("method").map(String.valueOf).getOrElse("") match {
      case "tools/list" => write(ListMap("tools" -> toolDefs)); 0
      case "tools/call" => String.valueOf(params.getOrElse("name", "")) match {
        case "execute_query" =>
          val q = str("query")
          val res = sp("service.execute")(queries.execute(q))
          res.foreach(r => write(r.toJsonWithStats))
          sp("service.pieces")(pieces(q, sp))
          res.map(_.rows.length).getOrElse(0)
        case "list_catalogs" => write(sp("metadata.list_catalogs")(metadata.listCatalogs())); 0
        case "list_schemas" => write(sp("metadata.list_schemas")(metadata.listSchemas(str("catalog")))); 0
        case "list_tables" =>
          write(sp("metadata.list_tables")(metadata.listTables(str("catalog"), str("schema")))); 0
        case "get_table_schema" =>
          sp("metadata.table_schema")(metadata.getTableSchema(str("catalog"), str("schema"),
            str("table"))).foreach(x => write(x)); 0
        case "explain_query" =>
          sp("explain")(explains.explain(str("query"), str("format"))).foreach(x => write(x)); 0
        case _ => 0
      }
      case _ => 0
    }
  }

  /** The statement pipeline of QueryService.execute, one public call per
    * layer: guard, the statement matchers, dialect, Catalyst, execution
    * and the per-query thread. Statements a matcher routes elsewhere
    * (SHOW, DESCRIBE, ...) stop after the matchers. */
  private def pieces(q: String, sp: Spans): Unit = {
    val spark = engine.spark
    val stripped = sp("guard")(ReadOnlyGuard.stripTrailingSemicolon(q))
    val routed = sp("service.matchers") {
      Seq(PreparedStatements.matchStatement(stripped), UseStatement.matchUse(stripped),
        SessionProps.matchStatement(stripped), ShowStats.matchStats(stripped),
        ShowStats.matchStatsQuery(stripped), ShowMeta.matchCreateTable(stripped),
        ShowMeta.matchSession(stripped), ShowMeta.matchDescribe(stripped),
        ShowMeta.matchCatalogs(stripped), ShowMeta.matchSchemas(stripped),
        ShowMeta.matchTables(stripped), ShowFunctions.matchFunctions(stripped),
        ExplainStatements.matchStatement(stripped)).exists(_.isDefined)
    }
    val ok = sp("guard")(ReadOnlyGuard.isReadOnly(stripped))
    if (!ok || routed) return
    val pre = try sp("dialect.preprocess")(TrinoFunctions.preprocess(stripped))
      catch { case _: IllegalArgumentException => return }
    val views = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val sql = sp("dialect.mr_splice") {
        if (!MatchRecognize.contains(pre)) Right(pre)
        else MatchRecognize.spliceAll(pre, rel => spark.sql(s"SELECT * FROM $rel"), df => {
          val name = s"perfbench_mr_${java.util.UUID.randomUUID().toString.replace("-", "")}"
          df.createOrReplaceTempView(name); views += name; name
        })
      } match { case Right(s) => s; case Left(_) => return }
      if (!isPlainQuery(sql)) return
      val plan = sp("catalyst.parse")(spark.sessionState.sqlParser.parsePlan(sql))
      val df: DataFrame = sp("catalyst.analyze")(ColumnBridge.ofRows(spark, plan))
      sp("catalyst.optimize")(df.queryExecution.optimizedPlan)
      sp("catalyst.plan")(df.queryExecution.executedPlan)
      val cap = engine.sessionMaxResultRows
      val group = s"perfbench-replay-${System.nanoTime()}"
      sp("exec") {
        spark.sparkContext.setJobGroup(group, "replay")
        try df.take(cap + 1) finally spark.sparkContext.clearJobGroup()
      }
      // the service's per-query runner thread and its future, empty
      sp("service.thread") {
        val done = new java.util.concurrent.CompletableFuture[Unit]()
        val t = new Thread(() => {
          spark.sparkContext.setJobGroup(group, "replay", interruptOnCancel = true)
          try done.complete(()) finally spark.sparkContext.clearJobGroup()
        }, group)
        t.setDaemon(true)
        t.start()
        done.get()
      }
    } catch { case _: Throwable => () }
    finally views.foreach(v => try spark.catalog.dropTempView(v) catch { case _: Throwable => () })
  }

  private def isPlainQuery(sql: String): Boolean = {
    val head = sql.trim.toUpperCase
    head.startsWith("SELECT") || head.startsWith("WITH") || head.startsWith("(")
  }
}

/** `TraceServer stdio|http <dataDir>`: the traced twin of the shipped
  * StdioServer / HttpTransport mains. Forcing the engine is timed and
  * reported on stderr as `[perfbench] setup.engine_ns=<n>`. */
object TraceServer {
  def main(args: Array[String]): Unit = {
    val Array(transport, dataDir) = args.take(2)
    val cfg = EngineConfig.fromEnv().fold(e => sys.error(e), identity)
    val engine = new Engine(cfg, Some(dataDir))
    val listener = new GroupListener
    val t0 = System.nanoTime()
    val spark: SparkSession = engine.spark
    System.err.println(s"[perfbench] setup.engine_ns=${System.nanoTime() - t0}")
    spark.sparkContext.addSparkListener(listener)
    val server = new TracedServer(engine, listener)
    transport match {
      case "stdio" =>
        server.serve(new BufferedReader(new InputStreamReader(System.in)), System.out)
      case "http" =>
        val http = new HttpTransport(server, 0)
        http.start()
        System.err.println(s"[graft-mcp] http listening on :${http.boundPort}")
        Thread.currentThread().join()
    }
  }
}
