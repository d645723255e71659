package graft.tools

import graft.SparkSpec
import java.nio.file.Files

/** The fbsql-style shell's repl loop driven headlessly: meta-commands for
  * warehouse selection and backup/restore (`reference/ctl/backup.go` verbs)
  * round-trip a table through a tar into a second warehouse. */
class ShellSpec extends SparkSpec {

  private def run(script: String): String = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.PrintStream(bos, true, "UTF-8")
    Shell.repl(spark, sfDir,
      new java.io.BufferedReader(new java.io.StringReader(script)), out)
    new String(bos.toByteArray, "UTF-8")
  }

  /** The repl on a session of its own, in tuples-only mode: the
    * non-empty output lines, prompts removed. */
  private def runOwn(script: String): Seq[String] = {
    val bos = new java.io.ByteArrayOutputStream()
    Shell.repl(spark.newSession(), sfDir,
      new java.io.BufferedReader(new java.io.StringReader(s"\\t on\n$script\\q\n")),
      new java.io.PrintStream(bos, true, "UTF-8"))
    new String(bos.toByteArray, "UTF-8").replace("graft> ", "").linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("Tuples only")).toSeq
  }

  test(":pql writes commit to the session table the next :pql reads") {
    val o = runOwn(
      """:pql region Set(99, r_name='X')
        |:pql region Count(All())
        |:pql region Count(Row(r_name='X'))
        |""".stripMargin)
    // a program ending on a write prints the record count
    assert(o == Seq("6", "6", "1"), o)
  }

  test("a SQL INSERT is visible to :pql") {
    val o = runOwn(
      """INSERT INTO region (_id, r_regionkey, r_name) VALUES (77, 77, 'Y')
        |:pql region Count(Row(r_name='Y'))
        |""".stripMargin)
    assert(o.lastOption.contains("1"), o)
  }

  test(":pql answers on a table made by CREATE TABLE") {
    val o = runOwn(
      """CREATE TABLE shell_pql (_id ID, v INT)
        |INSERT INTO shell_pql VALUES (1, 5), (2, 6)
        |:pql shell_pql Count(Row(v > 5))
        |""".stripMargin)
    assert(o.lastOption.contains("1"), o)
  }

  test(":set warehouse / :backup / :restore round-trip through the repl") {
    val wh1 = Files.createTempDirectory("graft-shell-wh1").toString
    val wh2 = Files.createTempDirectory("graft-shell-wh2").toString
    val tar = Files.createTempFile("graft-shell", ".tar").toString
    try {
      // backup without a warehouse is a clear error, not a stack trace
      // (must run BEFORE :set warehouse — the conf sticks to the session)
      val o0 = run(":backup /tmp/nope.tar\n:quit\n")
      assert(o0.contains("set spark.graft.warehouse first"), o0)

      val o1 = run(
        s""":set warehouse $wh1
           |CREATE TABLE shellt (_id ID, v INT)
           |INSERT INTO shellt VALUES (1, 5), (2, 6)
           |:backup $tar
           |:quit
           |""".stripMargin)
      assert(o1.contains("ok - DML and :backup/:restore"), o1)
      assert(raw"\d+ entries -> ".r.findFirstIn(o1).isDefined, o1)

      val s2 = spark.newSession()
      val bos = new java.io.ByteArrayOutputStream()
      Shell.repl(s2, sfDir, new java.io.BufferedReader(new java.io.StringReader(
        s""":set warehouse $wh2
           |:restore $tar
           |:quit
           |""".stripMargin)), new java.io.PrintStream(bos, true, "UTF-8"))
      val o2 = new String(bos.toByteArray, "UTF-8")
      assert(o2.contains("restored:") && o2.contains("shellt"), o2)
      assert(s2.table("shellt").count() == 2)
    } finally {
      spark.conf.unset("spark.graft.warehouse")
      scala.util.Try(graft.sql.Ddl.run(spark, "DROP TABLE shellt"))
      def rm(p: java.nio.file.Path): Unit = {
        if (Files.isDirectory(p))
          scala.jdk.CollectionConverters.IteratorHasAsScala(
            Files.list(p).iterator).asScala.toList.foreach(rm)
        Files.deleteIfExists(p)
      }
      rm(java.nio.file.Paths.get(wh1)); rm(java.nio.file.Paths.get(wh2))
      Files.deleteIfExists(java.nio.file.Paths.get(tar))
    }
  }

  test("\\d lists relations; \\d <table> describes columns (meta.go:503-534)") {
    val o = run("\\d\n\\d nation\n\\q\n")
    assert(o.contains("nation") && o.contains("lineitem"), o)
    // SHOW COLUMNS wire shape: the described table's columns appear as rows
    assert(o.contains("n_name") && o.contains("n_regionkey"), o)
  }

  test("\\dt and \\dv list tables and views; \\echo prints") {
    val o = run(
      """CREATE VIEW shell_v AS SELECT r_name FROM region
        |\dv
        |\dt
        |\echo done-echo
        |\q
        |""".stripMargin)
    assert(o.contains("shell_v"), o)          // fb_views row
    assert(o.contains("region"), o)           // SHOW TABLES row
    assert(o.contains("done-echo"), o)
    graft.sql.Ddl.run(spark, "DROP VIEW shell_v")
  }

  test("\\x expanded display and \\timing wrap query output (writer.go:80)") {
    val o = run(
      """\x on
        |SELECT r_regionkey, r_name FROM region WHERE r_regionkey = 0
        |\x off
        |\timing on
        |SELECT count(*) AS n FROM region
        |\q
        |""".stripMargin)
    assert(o.contains("Expanded display is on."), o)
    assert(o.contains("-[ RECORD 1 ]-"), o)
    assert(o.contains("Timing is on."), o)
    assert(raw"Execution time: \d+μs".r.findFirstIn(o).isDefined, o)
  }

  test("\\o redirects query output to a file; bare \\o resets (meta.go:651)") {
    val f = Files.createTempFile("graft-shell-o", ".txt").toString
    try {
      val o = run(
        s"""\\o $f
           |SELECT r_name FROM region ORDER BY r_regionkey
           |\\qecho sink-line
           |\\o
           |SELECT 1 AS back_on_term
           |\\q
           |""".stripMargin)
      val redirected = new String(Files.readAllBytes(
        java.nio.file.Paths.get(f)), "UTF-8")
      assert(redirected.contains("AFRICA") && redirected.contains("sink-line"),
        redirected)
      assert(!o.contains("AFRICA"), o)         // rows went to the file
      assert(o.contains("back_on_term"), o)    // reset restored the terminal
    } finally Files.deleteIfExists(java.nio.file.Paths.get(f))
  }

  test("\\i executes statements from a file (meta.go:411-466)") {
    val f = Files.createTempFile("graft-shell-i", ".sql")
    Files.write(f,
      """SELECT count(*) AS nat_count FROM nation
        |\echo included-ran
        |""".stripMargin.getBytes("UTF-8"))
    try {
      val o = run(s"\\i $f\n\\q\n")
      assert(o.contains("nat_count"), o)
      assert(o.contains("included-ran"), o)
      // a missing file is an error message, not a stack trace
      val o2 = run("\\i /nonexistent/nope.sql\n\\q\n")
      assert(o2.contains("error: opening"), o2)
    } finally Files.deleteIfExists(f)
  }

  test("\\set and \\unset store client variables (meta.go:817-845,935-960)") {
    // values concatenate WITHOUT a separator, exactly the reference's
    // strings.Join(args[1:], "")
    // NB: regular strings throughout — a literal \u in a triple-quoted
    // string is a unicode-escape lexer error in Scala
    val o = run("\\set one two three\n\\set zed z\n\\set\n" +
      "\\unset zed extra\n\\set\n\\unset\n\\q\n")
    assert(o.contains("one = 'twothree'"), o)
    assert(o.contains("zed = 'z'"), o)
    assert(o.indexOf("zed = 'z'") > 0 &&
      o.lastIndexOf("zed = 'z'") == o.indexOf("zed = 'z'"), o) // unset worked
    assert(o.contains("\\unset: extra argument \"extra\" ignored"), o)
    assert(o.contains("\\unset: missing required argument"), o)
  }

  test("\\t tuples-only strips headers and row counts (meta.go:896-933)") {
    val o = run(
      """\t on
        |SELECT r_name FROM region WHERE r_regionkey = 2
        |\t off
        |\q
        |""".stripMargin)
    assert(o.contains("Tuples only is on."), o)
    assert(o.contains("ASIA"), o)
    assert(!o.contains("r_name"), o)   // no header
    assert(!o.contains("(1 row)"), o)  // no count footer
    assert(o.contains("Tuples only is off."), o)
  }

  test("\\warn writes to stderr, not the terminal stream (meta.go:964-977)") {
    val outB = new java.io.ByteArrayOutputStream()
    val errB = new java.io.ByteArrayOutputStream()
    Shell.repl(spark, sfDir,
      new java.io.BufferedReader(new java.io.StringReader("\\warn careful\n\\q\n")),
      new java.io.PrintStream(outB, true, "UTF-8"),
      new java.io.PrintStream(errB, true, "UTF-8"))
    assert(!new String(outB.toByteArray, "UTF-8").contains("careful"))
    assert(new String(errB.toByteArray, "UTF-8").contains("careful"))
  }

  test("\\w writes the continuation buffer to a file (meta.go:1041-1070)") {
    val f = Files.createTempFile("graft-shell-w", ".sql")
    try {
      // a continued statement is pending in the buffer when \w runs
      val o = run(s"SELECT 1 \\\n\\w $f\n\\r\n\\q\n")
      val written = new String(Files.readAllBytes(f), "UTF-8")
      assert(written.contains("SELECT 1"), written)
      assert(run("\\w\n\\q\n").contains("\\w: missing required argument"))
      assert(o.contains("Query buffer reset."), o)
    } finally Files.deleteIfExists(f)
  }

  test("\\cd resolves relative paths for file meta-commands; \\! runs a " +
    "command (meta.go:74-90,132-156)") {
    val dir = Files.createTempDirectory("graft-shell-cd")
    val inc = dir.resolve("inc.sql")
    Files.write(inc, "\\echo from-include\n".getBytes("UTF-8"))
    try {
      val o = run(s"\\cd $dir\n\\i inc.sql\n\\q\n")
      assert(o.contains("from-include"), o)
      val o2 = run(s"\\cd $dir\n\\! pwd\n\\q\n")
      assert(o2.contains(dir.toRealPath().toString), o2)
      assert(run("\\! \n\\q\n")
        .contains("meta command '!' requires at least one argument"))
      assert(run("\\cd /nonexistent/nope\n\\q\n").contains("error: changing directory"), o)
    } finally {
      Files.deleteIfExists(inc); Files.deleteIfExists(dir)
    }
  }

  test("\\pset shows and sets write options; csv and border rendering " +
    "(meta.go:699-764, writer.go:18-142)") {
    val o = run("\\pset\n\\q\n")
    assert(o.contains("border      1"), o)
    assert(o.contains("expanded    off"), o)
    assert(o.contains("format      aligned"), o)
    assert(o.contains("tuples_only off"), o)
    val csv = run(
      """\pset format csv
        |SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 2 ORDER BY r_regionkey
        |\q
        |""".stripMargin)
    assert(csv.contains("r_regionkey,r_name"), csv)
    assert(csv.contains("0,AFRICA"), csv)
    assert(csv.contains("1,AMERICA"), csv)
    val framed = run(
      """\pset border 2
        |SELECT r_name FROM region WHERE r_regionkey = 0
        |\q
        |""".stripMargin)
    assert(framed.contains("| AFRICA |"), framed)
    assert(framed.contains("+-"), framed)
    assert(run("\\pset format json\n\\q\n")
      .contains("\\pset: allowed formats are aligned, csv"))
    assert(run("\\pset nope\n\\q\n")
      .contains("unrecognized value \"nope\" for \"pset\""))
    assert(run("\\pset location Nowhere/Nope\n\\q\n")
      .contains("error: loading location"))
    assert(run("\\pset a b c\n\\q\n")
      .contains("meta command 'pset' takes zero, one, or two arguments"))
  }

  test("\\c connects to a database by name; \\org records the organization " +
    "(meta.go:158-181,610-636, cli.go:528-577)") {
    assert(run("\\c\n\\q\n").contains("You are not connected to a database."))
    val o = run(
      """CREATE DATABASE IF NOT EXISTS shelldb
        |\c shelldb
        |\c
        |\c -
        |\q
        |""".stripMargin)
    assert(o.contains("You are now connected to database \"shelldb\""), o)
    assert(o.contains("You are not connected to a database."), o)
    assert(run("\\c nosuchdb\n\\q\n").contains("error: invalid database: nosuchdb"))
    val org = run("\\org\n\\org acme\n\\org\n\\q\n")
    assert(org.contains("You have not set an organization."), org)
    assert(org.contains("You have set organization \"acme\"."), org)
  }

  test("\\file appends a file's contents to the query buffer (meta.go:264-291)") {
    val f = Files.createTempFile("graft-shell-file", ".sql")
    try {
      Files.write(f, "SELECT count(*) AS n_file FROM region".getBytes("UTF-8"))
      val o = run(s"\\file $f\n\n\\q\n")
      assert(o.contains("n_file"), o)
      assert(o.contains("5"), o)
      assert(run("\\file\n\\q\n")
        .contains("meta command 'file' requires exactly one argument"))
      assert(run("\\file /nonexistent/nope.sql\n\\q\n")
        .contains("error: opening file"))
    } finally Files.deleteIfExists(f)
  }

  test("\\watch re-runs the last query; empty buffer and bad arg error " +
    "(meta.go:981-1026)") {
    // headless (no tty): one pass, so scripted input can't loop forever
    val o = run(
      """SELECT count(*) AS n FROM region
        |\watch 1
        |\q
        |""".stripMargin)
    val runs = "\\bn\\b".r.findAllIn(o).length
    assert(o.split("every 1s").length - 1 == 1, o)
    assert(runs >= 2, o) // original run + one watch pass
    assert(run("\\watch\n\\q\n")
      .contains("\\watch cannot be used with an empty query"))
    assert(run("SELECT 1\n\\watch abc\n\\q\n")
      .contains("invalid watch argument: abc"))
  }
}
