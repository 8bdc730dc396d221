package graft.betfair

/** Command-line surface mirroring the reference's `bfdb` subcommands
  * (reference: betfairdatabase/cli.py — index/select/insert/clean/export/
  * size/columns), driving the Spark engine.
  *
  * Usage:
  *   graft.betfair.Cli [-V|--version] [-v|--verbose] [-q|--quiet] <cmd> ...
  *   graft.betfair.Cli index <db> [-f|--force]
  *   graft.betfair.Cli select <db> [--where W] [--columns a,b] [--limit n]
  *   graft.betfair.Cli insert <db> <source> [-c|--copy] [-p|--pattern P]
  *                     [-d|--on-duplicates D]
  *   graft.betfair.Cli clean <db>
  *   graft.betfair.Cli export <db> [dest]
  *   graft.betfair.Cli size <db>
  *   graft.betfair.Cli columns
  *
  * Error behavior mirrors the reference's tested contract (cli.py:199-237):
  * an existing index without --force, a missing index for clean/size, or an
  * invalid option value prints a message and exits nonzero; `--version`
  * prints the version and exits 0; `--verbose`/`--quiet` set the Spark log
  * level (DEBUG / OFF, quiet wins — cli.py:157-163).
  */
object Cli {

  /** Library version (reference: importlib.metadata.version, cli.py:17-24). */
  val Version = "0.3.0"

  private val Patterns = Seq("betfair_historical", "event_id", "flat")
  private val OnDuplicates = Seq("skip", "replace", "update")

  /** Options that consume the following token as their value. Parsed
    * left-to-right so values like `flat` or `skip` never leak into the
    * positional list (argparse-style interleaving — cli.py's parser).
    */
  private val ValueOpts =
    Set("-p", "--pattern", "-d", "--on-duplicates",
      "--where", "--columns", "--limit")
  private val BoolOpts =
    Set("-f", "--force", "-c", "--copy", "-v", "--verbose", "-q", "--quiet")

  /** argv decomposed into positionals / option values / boolean flags.
    * `version` is set only when -V/--version precedes the subcommand,
    * matching argparse's top-level-only handling (cli.py:17-24): after the
    * subcommand it is an unrecognized argument (exit 2), not a version
    * request.
    */
  private[betfair] final case class Parsed(positionals: Vector[String],
      values: Map[String, String], flags: Set[String], version: Boolean)

  /** An argv error with its argparse exit code — thrown by [[parse]] (so the
    * parser is testable) and converted to stderr + `sys.exit` in [[main]].
    */
  private[betfair] final case class CliExit(code: Int, msg: String)
    extends RuntimeException(msg)

  private[betfair] def parse(args: Array[String]): Parsed = {
    var pos = Vector.empty[String]
    var values = Map.empty[String, String]
    var flags = Set.empty[String]
    var version = false
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a == "-V" || a == "--version") {
        if (pos.isEmpty) version = true
        else throw CliExit(2, s"unrecognized argument: $a")
      } else if (ValueOpts(a)) {
        // like argparse, a following token that is itself a known option is
        // a missing value, not the value — a value that genuinely starts
        // with an option name goes through the --option=value form
        if (i + 1 >= args.length || ValueOpts(args(i + 1)) ||
          BoolOpts(args(i + 1)) ||
          args(i + 1) == "-V" || args(i + 1) == "--version") {
          throw CliExit(2, s"option $a: expected one argument")
        }
        values += a -> args(i + 1)
        i += 1
      } else if (BoolOpts(a)) flags += a
      else if (a.startsWith("--") && a.contains('=') &&
        ValueOpts(a.takeWhile(_ != '='))) {
        // argparse also accepts --option=value
        values += a.takeWhile(_ != '=') -> a.dropWhile(_ != '=').tail
      } else if (a.startsWith("-") && a.length > 1) {
        throw CliExit(2, s"unrecognized argument: $a")
      } else pos :+= a
      i += 1
    }
    Parsed(pos, values, flags, version)
  }

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val p = try parse(args) catch {
      case CliExit(code, msg) => System.err.println(msg); sys.exit(code)
    }
    def flag(names: String*): Boolean = names.exists(p.flags)
    def opt(names: String*): Option[String] =
      names.flatMap(p.values.get).headOption
    if (p.version) { println(Version); return }
    val cmds = p.positionals
    if (cmds.isEmpty) { System.err.println("missing subcommand"); sys.exit(2) }
    val cmd = cmds.head
    if (cmd == "columns") {
      Schemas.IndexColumns.foreach(println)
      return
    }
    if (cmds.length < 2) fail(s"$cmd: missing database directory argument")
    val master = sys.env.getOrElse("SPARK_MASTER", "local[*]")
    val spark = graft.GraftSession(master, "graft-bfdb")
    // quiet overrides verbose, like the reference (cli.py:160)
    val logLevel =
      if (flag("-q", "--quiet")) "OFF"
      else if (flag("-v", "--verbose")) "DEBUG"
      else "WARN"
    spark.sparkContext.setLogLevel(logLevel)
    try {
      val db = new BetfairDatabase(spark, cmds(1))
      cmd match {
        case "index" =>
          val c =
            try db.index(force = flag("-f", "--force"))
            catch {
              case ex: IllegalStateException =>
                fail(ex.getMessage +
                  " Use -f/--force option to reindex the database.")
            }
          println(s"indexed ${c.rowsInserted} markets " +
            s"(total=${c.totalMarkets}, withoutData=${c.marketsWithoutData}, " +
            s"withoutMetadata=${c.marketsWithoutMetadata}, corrupt=${c.corruptFiles})")
        case "select" =>
          val cols = opt("--columns").map(_.split(",").toSeq).orNull
          val n = opt("--limit").map { v =>
            try v.toInt
            catch { case _: NumberFormatException =>
              fail(s"select: invalid --limit '$v' (expected an integer)") }
          }.getOrElse(-1)
          db.select(columns = cols, where = opt("--where").orNull,
            limit = n).show(1000, truncate = false)
        case "insert" =>
          if (cmds.length < 3) fail("insert: missing source directory argument")
          val patternName = opt("-p", "--pattern")
            .getOrElse("betfair_historical")
          if (!Patterns.contains(patternName))
            fail(s"insert: invalid --pattern '$patternName' " +
              s"(choose from ${Patterns.mkString(", ")})")
          val pattern = patternName match {
            case "flat" => ImportPatterns.flat
            case "event_id" => ImportPatterns.eventId
            case _ => ImportPatterns.betfairHistorical
          }
          val dup = opt("-d", "--on-duplicates").getOrElse("update")
          if (!OnDuplicates.contains(dup))
            fail(s"insert: invalid --on-duplicates '$dup' " +
              s"(choose from ${OnDuplicates.mkString(", ")})")
          val c = db.insert(cmds(2), copy = flag("-c", "--copy"),
            pattern = pattern, onDuplicates = dup)
          println(s"inserted ${c.rowsInserted} markets " +
            s"(added=${c.marketsAdded}, updated=${c.marketsUpdated}, " +
            s"skipped=${c.marketsSkipped})")
        case "clean" =>
          try println(s"removed ${db.clean()} rows")
          catch { case ex: IllegalStateException => fail(ex.getMessage) }
        case "export" =>
          println(db.export(if (cmds.length >= 3) cmds(2) else "."))
        case "size" =>
          try println(db.size)
          catch { case ex: IllegalStateException => fail(ex.getMessage) }
        case other =>
          System.err.println(s"unknown subcommand $other"); sys.exit(2)
      }
    } finally spark.stop()
  }
}
