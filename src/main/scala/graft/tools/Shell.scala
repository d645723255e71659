package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interactive shell — the `fbsql` analogue (`reference/cli/`): reads
  * statements from stdin and prints result tables.
  *
  * Statement input:
  *   - plain input  → reference-dialect SQL (`graft.sql.GraftSql`)
  *   - `:pql <index> <program>` → a PQL program on the session's table;
  *     its writes commit through TableLog like the facades', so SQL and
  *     later `:pql` statements see them
  *   - end a line with `\` to continue the statement on the next line
  *
  * psql-style meta-commands (`reference/cli/meta.go:1110-1161` dispatch):
  *   - `\d` (SHOW TABLES WITH SYSTEM), `\d <t>` (SHOW COLUMNS) —
  *     `meta.go:503-534`
  *   - `\dt` (SHOW TABLES), `\dv` (fb_views), `\l` (SHOW DATABASES)
  *   - `\i <file>` include: execute statements from a file (`meta.go:411-418`)
  *   - `\o [file]` redirect query output; no arg resets (`meta.go:651-683`)
  *   - `\timing [on|off]` per-query `Execution time: Nμs` (`writer.go:80-82`)
  *   - `\x [on|off]` expanded one-column-per-line display (`meta.go:237-260`)
  *   - `\echo <text>` / `\qecho <text>` (to terminal / to query output)
  *   - `\p` print the continuation buffer, `\r` reset it, `\?` help, `\q` quit
  *
  * Warehouse meta-commands (ours, `:`-prefixed; the `featurebase backup` /
  * `restore` verbs, `reference/ctl/backup.go`):
  *   - `:set warehouse <dir>`, `:backup <tar>`, `:restore <tar>`
  *   - `:tables`, `:quit`
  *
  * `sbt "runMain graft.tools.Shell [sfDir]"`.
  */
object Shell {

  /** Per-repl mutable display state (psql writeOptions analogue). */
  private final class State(val term: java.io.PrintStream,
                            val err: java.io.PrintStream) {
    var sink: java.io.PrintStream = term  // query output; \o redirects
    var timing = false
    var expanded = false
    var tuplesOnly = false                // \t: rows only, no header/count
    var quit = false
    // \c / \org connection state (`cli.go:528-577`; single-node: the
    // database is a recorded context, queries hit the same engine)
    var database = ""
    var databaseId = ""
    var org = ""
    // \pset write options (`writer.go:18-41` defaults)
    var border = 1                        // 0 | 1 | 2
    var format = "aligned"                // aligned | csv
    var location: java.time.ZoneId = java.time.ZoneId.systemDefault()
    // \set/\unset client variables (`meta.go:817-845` — stored and listed,
    // never interpolated; same in the reference)
    val variables = scala.collection.mutable.SortedMap.empty[String, String]
    var lastQuery: Option[String] = None  // \watch target (buffer.lastQuery)
    var cwd = new java.io.File(System.getProperty("user.dir")) // \cd
    var reader: java.io.BufferedReader = null // \watch's interrupt probe
    def resolve(f: String): java.io.File = {
      val file = new java.io.File(f)
      if (file.isAbsolute) file else new java.io.File(cwd, f)
    }
    def resetSink(): Unit = {
      if (sink ne term) sink.close()
      sink = term
    }
  }

  /** Render a result the way psql does: aligned header table (border 0/1/2),
    * CSV under `\pset format csv`, or expanded `-[ RECORD n ]-` blocks under
    * `\x`. Timestamps print RFC3339 in the `\pset location` zone
    * (`writer.go:211-219` cleanRow). Capped at `max` rows (the shell is a
    * terminal, not an export path — `\o` + SQL LIMIT for more). */
  private def render(df: DataFrame, st: State, max: Int = 50): String = {
    val cols = df.columns
    val rows = df.take(max + 1)
    val shown = rows.take(max)
    def fmt(v: Any): String = v match {
      case null => ""
      case t: java.sql.Timestamp =>
        java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME.format(
          t.toInstant.atZone(st.location))
      case s: Seq[_] => s.map(fmt).mkString("[", ",", "]")
      case b: Array[Byte] => s"<${b.length} bytes>"
      case x => x.toString
    }
    val sb = new StringBuilder
    if (st.format == "csv") { // `writer.go:60-142` formatCSV
      def csv(s: String): String =
        if (s.exists(c => c == ',' || c == '"' || c == '\n'))
          "\"" + s.replace("\"", "\"\"") + "\""
        else s
      if (!st.tuplesOnly) sb.append(cols.map(csv).mkString(",")).append('\n')
      shown.foreach { r =>
        sb.append(cols.indices.map(j => csv(fmt(r.get(j)))).mkString(","))
          .append('\n')
      }
      return sb.toString.stripLineEnd
    }
    if (st.tuplesOnly) { // \t: unadorned rows (psql tuples_only)
      shown.foreach { r =>
        sb.append(cols.indices.map(j => fmt(r.get(j))).mkString(" | "))
          .append('\n')
      }
      return sb.toString.stripLineEnd
    }
    if (st.expanded) {
      val w = if (cols.isEmpty) 0 else cols.map(_.length).max
      shown.zipWithIndex.foreach { case (r, i) =>
        sb.append(s"-[ RECORD ${i + 1} ]-\n")
        cols.indices.foreach { j =>
          sb.append(cols(j).padTo(w, ' ')).append(" | ")
            .append(fmt(r.get(j))).append('\n')
        }
      }
    } else {
      val cells = shown.map(r => cols.indices.map(j => fmt(r.get(j))))
      val widths = cols.indices.map { j =>
        (cols(j).length +: cells.map(_(j).length)).max
      }
      // psql border levels: 0 = whitespace-separated, 1 = internal `|`
      // dividers (default), 2 = full frame
      def line(vals: Seq[String]): String = st.border match {
        case 0 => vals.mkString(" ")
        case 2 => vals.mkString("| ", " | ", " |")
        case _ => vals.mkString(" ", " | ", "")
      }
      def rule: String = st.border match {
        case 0 => widths.map("-" * (_: Int)).mkString(" ")
        case 2 => widths.map("-" * (_: Int)).mkString("+-", "-+-", "-+")
        case _ => widths.map("-" * (_: Int)).mkString("-", "-+-", "-")
      }
      if (st.border == 2) sb.append(rule).append('\n')
      sb.append(line(cols.indices.map(j => cols(j).padTo(widths(j), ' '))))
        .append('\n')
      sb.append(rule).append('\n')
      cells.foreach { row =>
        sb.append(line(cols.indices.map(j => row(j).padTo(widths(j), ' '))))
          .append('\n')
      }
      if (st.border == 2) sb.append(rule).append('\n')
    }
    val n = shown.length
    sb.append(s"($n row${if (n == 1) "" else "s"}")
      .append(if (rows.length > shown.length) s", first $max shown)" else ")")
    sb.toString
  }

  /** Execute one SQL/PQL statement and write its rendered result (and the
    * `\timing` line) to the current sink. Timing covers execute+fetch — the
    * reference reports server ExecutionTime the same way. */
  private def runStatement(spark: SparkSession, dir: String, st: State,
                           stmt: String): Unit = {
    val t0 = System.nanoTime()
    try {
      val out =
        if (stmt.startsWith(":pql ")) {
          // the session's table, committed through TableLog like the
          // facades' programs; rendered under the runner's lock
          val (idx, q) = stmt.stripPrefix(":pql ").trim.span(!_.isWhitespace)
          graft.core.Tables.registerAll(spark, dir)
          graft.pql.Pql.programResults(spark, idx, q.trim)(rs =>
            render(graft.pql.Pql.lastResult(spark, idx)(rs), st))
        } else render(graft.sql.GraftSql.sql(spark, dir, stmt), st)
      st.lastQuery = Some(stmt)
      st.sink.println(out)
      if (st.timing)
        st.sink.println(s"Execution time: ${(System.nanoTime() - t0) / 1000}μs")
    } catch { case e: Exception =>
      st.term.println(s"error: ${Option(e.getMessage).getOrElse(e.toString)
        .linesIterator.take(3).mkString(" ")}")
    }
  }

  private val help =
    """\d [table]      list relations, or columns of a table
      |\dt  \dv  \l    list tables / views / databases
      |\i <file>       execute statements from a file
      |\o [file]       redirect query output to a file (no arg: reset)
      |\timing [on|off]  toggle per-query execution time
      |\x [on|off]     toggle expanded display
      |\t [on|off]     tuples only (rows without header or count)
      |\c [db]        show the connection, or connect to a database ('-' resets)
      |\org [id]      show or set the organization
      |\pset [k [v]]  show or set border/expanded/format/location/tuples_only
      |\file <f>      append a file's contents to the query buffer
      |\set [k v]  \UNSET_ <k>   list / set / drop client variables
      |\echo / \qecho / \warn   print to terminal / query output / stderr
      |\p  \r          print / reset the continuation buffer
      |\w <file>       write the continuation buffer to a file
      |\watch [sec]    re-run the last query every sec (default 2)
      |\cd [dir]       change the directory for file meta-commands
      |\! <cmd...>     run a shell command
      |\q              quit
      |:pql <index> <program>   run PQL
      |:set warehouse <dir>  :backup <tar>  :restore <tar>  :tables""".stripMargin
      // "\u" cannot appear literally in any Scala string (pre-lexer unicode
      // escape), so the help line above spells \unset via replacement:
      .replace("\\UNSET_", "\\unset")

  /** Dispatch one complete input line's statement or meta-command. `buf` is
    * the continuation buffer (for `\p`/`\r`). */
  private def dispatch(spark: SparkSession, dir: String, st: State,
                       buf: StringBuilder, stmt: String): Unit = {
    def onOff(arg: Option[String], cur: Boolean): Boolean = arg match {
      case None => !cur
      case Some("on") => true
      case Some("off") => false
      case Some(other) =>
        st.term.println(s"""unrecognized value "$other": Boolean expected""")
        cur
    }
    val parts = stmt.split("\\s+").toList
    (parts.headOption.getOrElse(""), parts.drop(1)) match {
      case ("", _) =>
      case (":quit" | ":exit" | "\\q", _) => st.quit = true
      case (":tables", _) =>
        st.term.println(graft.core.Tables.names.mkString(" "))
      case ("\\?", _) => st.term.println(help)
      case ("\\d", Nil) =>
        runStatement(spark, dir, st, "SHOW TABLES WITH SYSTEM")
      case ("\\d", t :: Nil) =>
        runStatement(spark, dir, st, s"SHOW COLUMNS FROM $t")
      case ("\\dt", _) => runStatement(spark, dir, st, "SHOW TABLES")
      case ("\\dv", _) => runStatement(spark, dir, st, "SELECT * FROM fb_views")
      case ("\\l", _) => runStatement(spark, dir, st, "SHOW DATABASES")
      case ("\\echo", args) => st.term.println(args.mkString(" "))
      case ("\\qecho", args) => st.sink.println(args.mkString(" "))
      case ("\\p", _) => st.term.println(buf.toString)
      case ("\\r", _) => buf.clear(); st.term.println("Query buffer reset.")
      case ("\\timing", args) =>
        st.timing = onOff(args.headOption, st.timing)
        st.term.println(s"Timing is ${if (st.timing) "on" else "off"}.")
      case ("\\x", args) =>
        st.expanded = onOff(args.headOption, st.expanded)
        st.term.println(
          s"Expanded display is ${if (st.expanded) "on" else "off"}.")
      case ("\\o", Nil) => st.resetSink()
      case ("\\o", f :: Nil) =>
        st.resetSink()
        try st.sink = new java.io.PrintStream(
          new java.io.FileOutputStream(st.resolve(f), /*append=*/ true),
          true, "UTF-8")
        catch { case e: java.io.IOException =>
          st.term.println(s"error: opening $f: ${e.getMessage}")
        }
      case ("\\i", f :: Nil) =>
        try {
          val r = new java.io.BufferedReader(
            new java.io.FileReader(st.resolve(f)))
          try feed(spark, dir, st, r, interactive = false)
          finally r.close()
        } catch { case e: java.io.IOException =>
          st.term.println(s"error: opening $f: ${e.getMessage}")
        }
      // \set / \unset client variables (`meta.go:817-845,935-960`): stored
      // and listed `k = 'v'` sorted; values concatenate WITHOUT a
      // separator (`\set one two three` → `one = 'twothree'`), exactly the
      // reference's strings.Join(args[1:], "")
      case ("\\set", Nil) =>
        st.variables.foreach { case (k, v) => st.term.println(s"$k = '$v'") }
      case ("\\set", k :: vs) => st.variables(k) = vs.mkString("")
      case ("\\unset", Nil) =>
        st.term.println("\\unset: missing required argument")
      case ("\\unset", k :: extra) =>
        extra.foreach(s =>
          st.term.println(s"""\\unset: extra argument "$s" ignored"""))
        st.variables.remove(k)
      // \t tuples-only (`meta.go:896-933`)
      case ("\\t", args) =>
        st.tuplesOnly = onOff(args.headOption, st.tuplesOnly)
        st.term.println(
          s"Tuples only is ${if (st.tuplesOnly) "on" else "off"}.")
      // \c / \connect (`meta.go:158-181`, `cli.go:528-577`): zero args
      // prints the connection, one arg connects by name via SHOW DATABASES
      // ("-" disconnects); single-node, so "connecting" records context
      case ("\\c" | "\\connect", args) =>
        def connMsg(): String =
          if (st.database.isEmpty) "You are not connected to a database."
          else s"""You are now connected to database "${st.database}" (${st.databaseId})."""
        args match {
          case Nil => st.term.println(connMsg())
          case ("-" | "") :: Nil =>
            st.database = ""; st.databaseId = ""
            st.term.println(connMsg())
          case name :: Nil =>
            try {
              // reference rows are (_id, name, …); Spark's native SHOW
              // DATABASES is a single `namespace` column — the name doubles
              // as the id there
              val rows = graft.sql.GraftSql.sql(spark, dir, "SHOW DATABASES")
                .collect()
              val hit = rows.find(r =>
                (if (r.size >= 2) r.getString(1) else r.getString(0)) == name)
              hit match {
                case Some(r) =>
                  st.database = name
                  st.databaseId = r.getString(0)
                  st.term.println(connMsg())
                case None => st.term.println(s"error: invalid database: $name")
              }
            } catch { case e: Exception =>
              st.term.println(s"error: ${e.getMessage}") }
          case _ =>
            st.term.println("meta command 'connect' takes zero or one argument")
        }
      // \org (`meta.go:610-636`): records the organization id
      case ("\\org", args) =>
        def orgMsg(): String =
          if (st.org.isEmpty) "You have not set an organization."
          else s"""You have set organization "${st.org}"."""
        args match {
          case Nil => st.term.println(orgMsg())
          case o :: Nil => st.org = o; st.term.println(orgMsg())
          case _ =>
            st.term.println("meta command 'org' takes zero or one argument")
        }
      // \pset (`meta.go:699-764`): print or set the write options
      case ("\\pset", Nil) =>
        def onOffS(b: Boolean) = if (b) "on" else "off"
        st.term.println(
          s"""border      ${st.border}
             |expanded    ${onOffS(st.expanded)}
             |format      ${st.format}
             |location    ${st.location.getId}
             |tuples_only ${onOffS(st.tuplesOnly)}""".stripMargin)
      case ("\\pset", key :: rest) if rest.size <= 1 => key match {
        case "border" => // `meta.go:104-119`: 1, 2, anything else → 0
          rest.foreach(v => st.border = v match {
            case "1" => 1; case "2" => 2; case _ => 0 })
        case "expanded" | "x" => // zero args toggles (`meta.go:237-252`)
          st.expanded = onOff(rest.headOption, st.expanded)
          st.term.println(
            s"Expanded display is ${if (st.expanded) "on" else "off"}.")
        case "format" => rest.foreach { // `meta.go:311-326`
          case f @ ("aligned" | "csv") => st.format = f
          case _ =>
            st.term.println("\\pset: allowed formats are aligned, csv")
        }
        case "location" => rest.foreach { l => // `meta.go:591-601`
          try st.location = java.time.ZoneId.of(l)
          catch { case _: Exception =>
            st.term.println(s"error: loading location: $l") }
        }
        case "tuples_only" | "t" =>
          st.tuplesOnly = onOff(rest.headOption, st.tuplesOnly)
          st.term.println(
            s"Tuples only is ${if (st.tuplesOnly) "on" else "off"}.")
        case other =>
          st.term.println(s"""unrecognized value "$other" for "pset"""")
      }
      case ("\\pset", _) =>
        st.term.println("meta command 'pset' takes zero, one, or two arguments")
      // \file (`meta.go:264-291`): append a file's contents to the query
      // buffer — it becomes part of the statement being composed
      case ("\\file", f :: Nil) =>
        try {
          val text = new String(java.nio.file.Files.readAllBytes(
            st.resolve(f).toPath), "UTF-8")
          buf.append(text.stripLineEnd).append(' ')
        } catch { case e: java.io.IOException =>
          st.term.println(s"error: opening file: $f")
        }
      case ("\\file", _) =>
        st.term.println("meta command 'file' requires exactly one argument")
      // \warn echoes to stderr (`meta.go:964-977`)
      case ("\\warn", args) => st.err.println(args.mkString(" "))
      // \w writes the continuation buffer to a file (`meta.go:1041-1070`)
      case ("\\w", Nil) => st.term.println("\\w: missing required argument")
      case ("\\w", f :: Nil) =>
        try {
          val out = new java.io.PrintStream(
            new java.io.FileOutputStream(st.resolve(f)), true, "UTF-8")
          try out.println(buf.toString) finally out.close()
        } catch { case e: java.io.IOException =>
          st.term.println(s"error: opening $f: ${e.getMessage}")
        }
      // \cd (`meta.go:132-156`): tracked dir resolving relative \i/\o/\w
      // paths and \! commands (a JVM cannot chdir the process)
      case ("\\cd", args) =>
        val target = args.headOption
          .map(st.resolve).getOrElse(
            new java.io.File(System.getProperty("user.home")))
        if (target.isDirectory) st.cwd = target.getCanonicalFile
        else st.term.println(s"error: changing directory to: ${args.mkString}")
      // \! runs a shell command (`meta.go:74-90`)
      case ("\\!", Nil) =>
        st.term.println("meta command '!' requires at least one argument")
      case ("\\!", args) =>
        try {
          val p = new ProcessBuilder(args: _*)
            .directory(st.cwd).redirectErrorStream(true).start()
          val outp = new String(p.getInputStream.readAllBytes(), "UTF-8")
          p.waitFor()
          st.term.print(outp); st.term.flush()
        } catch { case e: Exception =>
          st.term.println(s"error: running bang command: ${e.getMessage}")
        }
      // \watch [sec] (`meta.go:981-1026`): re-run the LAST query every
      // period until input arrives (the reference loops until SIGINT; a
      // pending line on stdin is this repl's interrupt)
      case ("\\watch", args) =>
        val period = args.headOption.map { a =>
          try a.toInt
          catch { case _: NumberFormatException =>
            st.term.println(s"invalid watch argument: $a"); -1 }
        }.getOrElse(2)
        st.lastQuery match {
          case None => st.term.println("\\watch cannot be used with an empty query")
          case Some(q) if period >= 0 =>
            // only a real terminal can interrupt the loop; scripted/piped
            // input gets one pass so an EOF'd stdin can't spin forever
            val tty = System.console() != null
            var go = true
            while (go) {
              st.term.println(s"${java.time.Instant.now} (every ${period}s)\n")
              runStatement(spark, dir, st, q)
              if (!tty) go = false
              else {
                val deadline = System.nanoTime() + period * 1000000000L
                while (go && System.nanoTime() < deadline) {
                  if (st.reader == null || st.reader.ready()) go = false
                  else Thread.sleep(25)
                }
              }
            }
          case _ => ()
        }
      case (c, _) if c.startsWith("\\") =>
        st.term.println(s"unsupported meta-command: '$c'")
      // `featurebase backup`/`restore` verbs (`reference/ctl/backup.go`)
      // as shell meta-commands over the durable warehouse
      case (":backup", args) =>
        if (!graft.core.TableLog.isDurable(spark))
          st.term.println(
            "error: set spark.graft.warehouse first (:set warehouse <dir>)")
        else {
          val tar = args.mkString(" ")
          val n = graft.core.Backup.backup(
            spark.conf.get("spark.graft.warehouse"), tar).length
          st.term.println(s"$n entries -> $tar")
        }
      case (":restore", args) =>
        if (!graft.core.TableLog.isDurable(spark))
          st.term.println(
            "error: set spark.graft.warehouse first (:set warehouse <dir>)")
        else {
          graft.core.Backup.restore(args.mkString(" "),
            spark.conf.get("spark.graft.warehouse"))
          val tables = graft.sql.Ddl.restoreSession(spark)
          st.term.println(s"restored: ${tables.mkString(" ")}")
        }
      case (":set", "warehouse" :: dirArg) =>
        spark.conf.set("spark.graft.warehouse", dirArg.mkString(" "))
        st.term.println("ok - DML and :backup/:restore now use the warehouse")
      case _ => runStatement(spark, dir, st, stmt)
    }
  }

  /** Drain a reader through the statement/meta loop — the repl itself and
    * `\i` share this (`meta.go:420-466` executeFile replays the same
    * splitter+buffer pipeline over file lines). */
  private def feed(spark: SparkSession, dir: String, st: State,
                   in: java.io.BufferedReader, interactive: Boolean): Unit = {
    val buf = new StringBuilder
    var line: String = null
    if (interactive) { st.term.print("graft> "); st.term.flush() }
    while (!st.quit && { line = in.readLine(); line != null }) {
      val trimmed = line.trim
      if (line.endsWith("\\") && !trimmed.startsWith("\\"))
        buf.append(line.dropRight(1)).append(' ')
      else {
        // a meta-command mid-continuation acts on the pending buffer
        // (`\p`/`\r`) without consuming it; anything else completes the
        // statement
        if (trimmed.startsWith("\\") && buf.nonEmpty)
          dispatch(spark, dir, st, buf, trimmed)
        else {
          val stmt = (buf.toString + line).trim
          buf.clear()
          dispatch(spark, dir, st, buf, stmt)
        }
        if (interactive && !st.quit) { st.term.print("graft> "); st.term.flush() }
      }
    }
  }

  /** The repl loop, session-injectable so specs can drive it without
    * owning (or stopping) the process-wide session. Returns on `\q`,
    * `:quit`, or end of input. */
  def repl(spark: SparkSession, dir: String, in: java.io.BufferedReader,
           out: java.io.PrintStream,
           err: java.io.PrintStream = System.err): Unit = {
    val st = new State(out, err)
    st.reader = in
    try feed(spark, dir, st, in, interactive = true)
    finally st.resetSink()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.EngineConf(SparkSession.builder().master("local[8]")
      .appName("graft-shell")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Tables.registerAll(spark, dir)
    println(s"graft shell - tables from $dir. SQL, :pql <index> <q>, " +
      "\\? for meta-commands, \\q to quit")
    repl(spark, dir,
      new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
      System.out)
    spark.stop()
  }
}
