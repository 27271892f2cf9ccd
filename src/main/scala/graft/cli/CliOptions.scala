package graft.cli

/** The one option parser of the CLIs: `--name value` pairs. An unknown
  * option, an option with no value or a missing required option fails
  * with a usage error naming it, so a typo never falls back to a default.
  * The CLIs parse before they build a session, like click's make_context.
  */
object CliOptions {

  def parse(args: Seq[String], known: Seq[String], required: Seq[String]): Map[String, String] = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"$msg; usage: ${known.map(k => s"$k VALUE").mkString(" ")}")
    val opts = args.grouped(2).map {
      case Seq(k, _*) if !known.contains(k) => fail(s"unknown option $k")
      case Seq(k, v) if !v.startsWith("--") => k -> v
      case Seq(k, _*) => fail(s"option $k needs a value")
    }.toMap
    required.find(!opts.contains(_)).foreach(k => fail(s"$k required"))
    opts
  }
}
