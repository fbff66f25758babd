package graft.core

/** The one reader for environment knobs. An unset knob takes its default;
  * a value that does not parse, falls below a numeric knob's minimum or is
  * not one of a string knob's values fails with an error naming the
  * variable and the value — not a bare `NumberFormatException` or a
  * silently ignored typo. */
object Knobs {
  def int(name: String, default: Int, min: Int,
      env: Map[String, String] = sys.env): Int =
    read(name, default, min, env)(_.toIntOption)

  def long(name: String, default: Long, min: Long,
      env: Map[String, String] = sys.env): Long =
    read(name, default, min, env)(_.toLongOption)

  def double(name: String, default: Double, min: Double,
      env: Map[String, String] = sys.env): Double =
    read(name, default, min, env)(_.toDoubleOption)(Ordering.Double.IeeeOrdering)

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

  private def read[A](name: String, default: A, min: A, env: Map[String, String])(
      parse: String => Option[A])(implicit ord: Ordering[A]): A =
    env.get(name) match {
      case None => default
      case Some(raw) =>
        parse(raw.trim).filter(ord.gteq(_, min)).getOrElse(throw new IllegalArgumentException(
          s"$name='$raw': expected a number >= $min"))
    }
}
