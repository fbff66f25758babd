package graft.core

/** The one reader for environment knobs. An unset knob takes its default;
  * a value that does not parse, falls below a numeric knob's minimum or is
  * not one of a string knob's values fails with an error naming the
  * variable and the value — not a bare `NumberFormatException` or a
  * silently ignored typo. */
object Knobs {
  def int(name: String, default: Int, min: Int,
      env: Map[String, String] = sys.env): Int =
    env.get(name) match {
      case None => default
      case Some(raw) =>
        raw.trim.toIntOption.filter(_ >= min).getOrElse(throw new IllegalArgumentException(
          s"$name='$raw': expected a number >= $min"))
    }

  /** A knob that takes one of `allowed` (compared after trimming); the
    * error calls a value outside them "not a known `what`". */
  def oneOf(name: String, default: String, allowed: Seq[String],
      env: Map[String, String] = sys.env, what: String = "value"): String =
    env.get(name) match {
      case None => default
      case Some(raw) => Some(raw.trim).filter(allowed.contains).getOrElse(
        throw new IllegalArgumentException(s"$name='$raw' is not a known $what " +
          s"(expected ${allowed.mkString("'", "' or '", "'")})"))
    }

  /** A free-form knob, such as a class name: unset → None, a blank value
    * fails. */
  def string(name: String, env: Map[String, String] = sys.env): Option[String] =
    env.get(name).map { raw =>
      if (raw.trim.isEmpty) throw new IllegalArgumentException(
        s"$name='$raw': expected a non-blank value")
      raw.trim
    }
}
