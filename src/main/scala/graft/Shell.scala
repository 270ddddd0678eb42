package graft

import java.io.{BufferedReader, InputStreamReader}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Interactive SQL shell for the graft engine — the rebuild of the
  * reference's CLI (/root/reference `HBaseSQLCliDriver.scala:36-228`:
  * prompt, `;`-terminated multi-line statements, QUIT/EXIT/HELP,
  * tabular output) without the jline dependency (plain stdin works in
  * every terminal and stays scriptable).
  *
  * {{{
  *   java -cp <spark-jars>:<graft-classes> graft.Shell \
  *     [--warehouse DIR] [-e "SQL;..."] [-f script.sql]
  * }}}
  *
  * With no `-e`/`-f`, reads statements from stdin at a `graft> `
  * prompt. SQL runs through a session with the graft catalog,
  * extensions, and procedures wired, so `CREATE TABLE ...
  * TBLPROPERTIES('keyCols'=...)`, `CALL graft.sys.load_csv(...)`,
  * `SELECT vec_cosine(...)` all work directly.
  */
object Shell {

  private val Prompt = "graft> "
  private val ContinuationPrompt = "     | "

  private val Help =
    """Commands:
      |  <SQL statement>;     run SQL (multi-line until ';')
      |  help;                this text
      |  quit; / exit;        leave the shell
      |Examples:
      |  SHOW NAMESPACES IN graft;
      |  CREATE TABLE graft.db.t (k INT, v STRING)
      |    TBLPROPERTIES('keyCols'='k');
      |  LOAD DATA INPATH '/data/t.csv' INTO TABLE graft.db.t;
      |  CALL graft.sys.load_csv(table => 'db.t', path => '/data/t.csv');
      |  CALL graft.sys.split(table => 'db.t', target_bytes => 268435456);
      |  SELECT * FROM graft.db.t WHERE k = 1;""".stripMargin

  def session(warehouse: String): SparkSession =
    GraftSession.builder("graft-shell",
      master = Some(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")),
      warehouse = Some(warehouse)).getOrCreate()

  /** Split a chunk of text into `;`-terminated statements. Respects
    * quoted strings (with Spark's backslash escapes), backtick
    * identifiers, `--` line comments, and bracketed `/* … */` comments,
    * so a `;` inside any of those never splits; a trailing unterminated
    * fragment is returned last. */
  private[graft] def splitStatements(text: String): (Seq[String], String) = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var comment = false
    var bracketed = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (bracketed) {
        cur.append(c)
        if (c == '*' && i + 1 < text.length && text.charAt(i + 1) == '/') {
          cur.append('/'); i += 1; bracketed = false
        }
      } else if (comment) {
        cur.append(c)
        if (c == '\n') comment = false
      } else if (quote != 0) {
        cur.append(c)
        if (c == '\\' && quote != '`' && i + 1 < text.length) {
          cur.append(text.charAt(i + 1)); i += 1 // escaped char
        } else if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur.append(c)
        case '-' if i + 1 < text.length && text.charAt(i + 1) == '-' =>
          comment = true; cur.append(c)
        case '/' if i + 1 < text.length && text.charAt(i + 1) == '*' =>
          bracketed = true; cur.append(c)
        case ';' => out += cur.toString; cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    (out.result().map(_.trim).filter(_.nonEmpty), cur.toString)
  }

  /** Run one statement; true = keep the shell alive. */
  private[graft] def execute(spark: SparkSession, stmt: String,
      out: java.io.PrintStream): Boolean =
    stmt.trim.toLowerCase match {
      case "quit" | "exit" => false
      case "help" => out.println(Help); true
      case _ =>
        try {
          val df = spark.sql(stmt)
          // the same bounded table df.show() prints; cap rows so a
          // SELECT * can't flood the driver
          out.println(org.apache.spark.sql.graftshim.ColumnExpr
            .showString(df, 100, truncate = 20))
        } catch {
          case NonFatal(e) =>
            out.println(s"Error: ${Option(e.getMessage).getOrElse(e)}")
        }
        true
    }

  /** Statement loop over a reader (testable core of the REPL). */
  private[graft] def run(spark: SparkSession, in: BufferedReader,
      out: java.io.PrintStream, interactive: Boolean): Unit = {
    var pending = ""
    var alive = true
    if (interactive) out.print(Prompt)
    var line = in.readLine()
    while (alive && line != null) {
      val (stmts, rest) = splitStatements(pending + line + "\n")
      pending = rest
      stmts.foreach { s => if (alive) alive = execute(spark, s, out) }
      if (alive) {
        if (interactive)
          out.print(if (pending.trim.isEmpty) Prompt else ContinuationPrompt)
        line = in.readLine()
      }
    }
    // trailing statement without ';' (script files)
    if (alive && pending.trim.nonEmpty) execute(spark, pending, out)
  }

  def main(args: Array[String]): Unit = {
    var warehouse = sys.env.getOrElse("GRAFT_WAREHOUSE", "/tmp/graft_warehouse")
    var inline: Option[String] = None
    var script: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--warehouse" => warehouse = args(i + 1); i += 2
        case "-e" => inline = Some(args(i + 1)); i += 2
        case "-f" => script = Some(args(i + 1)); i += 2
        case other =>
          System.err.println(s"unknown argument $other"); sys.exit(2)
      }
    }
    val spark = session(warehouse)
    try {
      (inline, script) match {
        case (Some(sql), _) =>
          val (stmts, rest) = splitStatements(sql + "\n")
          (stmts ++ Some(rest.trim).filter(_.nonEmpty))
            .foreach(execute(spark, _, System.out))
        case (_, Some(path)) =>
          val r = new BufferedReader(new java.io.FileReader(path))
          try run(spark, r, System.out, interactive = false)
          finally r.close()
        case _ =>
          System.out.println(
            s"graft SQL shell (Spark ${spark.version}) — 'help;' for help")
          run(spark, new BufferedReader(new InputStreamReader(System.in)),
            System.out, interactive = true)
      }
    } finally spark.stop()
  }
}
