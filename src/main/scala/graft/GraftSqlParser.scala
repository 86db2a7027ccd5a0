package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Session parser that serves the HiveQL dialect surface through ANY
  * SQL entry point — including a Spark Connect server, giving the
  * engine a remote endpoint that mirrors HiveServer2's SQLOperation
  * (service/cli/operation/SQLOperation.java:91): the client sends
  * statement text, the server answers with Hive semantics (DESCRIBE/
  * SHOW layouts, UPDATE/MERGE/LOAD, Hive-format CREATE, db namespace).
  *
  * Injected by [[GraftExtensions]]; INERT until the session sets
  * `spark.graft.dialect=true` (a plain Spark deployment sees the
  * stock parser byte-for-byte). Statements the dialect dispatches
  * imperatively run here — exactly where HiveServer2 runs them — and
  * everything else parses as the rewritten text, lazily, so the
  * caller executes it once.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  import GraftSqlParser._

  private def engaged: Boolean =
    !reentrant.get() &&
      session.conf.getOption("spark.graft.dialect").contains("true")

  override def parsePlan(sqlText: String): LogicalPlan =
    if (!engaged) delegate.parsePlan(sqlText)
    else {
      reentrant.set(true)
      try statements(session).plan(sqlText)
      finally reentrant.set(false)
    }

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {
  /** The dialect dispatcher re-enters the parser for the statements it
    * forwards to Spark — those must hit the stock grammar. */
  private val reentrant = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** One [[HiveStatements]] per session: its dialect carries the
    * session's namespace state (USE cursor, known dbs, bindings).
    * Spark Connect gives every client an ISOLATED server-side session
    * (own SessionState/temp views/conf over the shared SparkContext),
    * so each client gets its own dispatcher here — per-client USE
    * cursors and namespaces cannot bleed (HiveServer2's per-session
    * SQLOperation contract; verified end-to-end by SparkConnectSpec's
    * two-client test). Durable metadata SHARING across clients goes
    * through the metastore ledger (`spark.graft.metastore.path`,
    * loaded at dispatcher construction) plus warehouse catalog
    * tables — live mid-session mutations stay session-local, like
    * HiveServer2 sessions with metastore caching. */
  private val perSession =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, HiveStatements]())

  def statements(s: SparkSession): HiveStatements =
    perSession.synchronized {
      var hs = perSession.get(s)
      if (hs == null) { hs = new HiveStatements(s); perSession.put(s, hs) }
      hs
    }
}

/** A dialect-surface statement (UPDATE/DELETE/MERGE/LOAD/EXPORT/
  * IMPORT/Hive-shaped INSERT) as a lazy command: Spark rejects the
  * text or cannot plan it over v1 tables, so [[HiveStatements.plan]]
  * defers the dispatch to RUN time — Spark executes a command exactly
  * once and caches its (empty) result, surviving Spark Connect's
  * re-parse of the statement text on every dataframe operation. */
case class HiveStatementCommand(
    @transient statements: HiveStatements, rewritten: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    if (!statements.execute(rewritten))
      throw new IllegalArgumentException(
        s"statement is outside the dialect surface: " +
          rewritten.linesIterator.mkString(" ").take(200))
    statements.persistAfter(rewritten)
    Nil
  }
}

/** A STOCK metadata-mutating command (CREATE/ALTER/DROP/... parsed by
  * Spark's own grammar on the Connect path) wrapped so the metastore
  * ledger persists AFTER the command executes — a parse-time persist
  * could neither see the object the statement creates nor honor
  * plan()'s side-effect-free contract. Leaf on purpose: the inner
  * plan analyzes and runs inside [[run]], exactly once. The inner
  * command's own output schema and rows pass through (SHOW-like
  * commands wrapped here must still answer). */
case class GraftPersistCommand(
    @transient statements: HiveStatements,
    @transient inner: LogicalPlan, text: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output
      : Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    scala.util.Try(inner.output).getOrElse(Nil)
  override def run(session: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val rows =
      org.apache.spark.sql.GraftSqlShim.dataFrame(session, inner)
        .collect().toSeq
    statements.persistAfter(text)
    rows
  }
}
