package graft.core

/** The one reader for numeric environment knobs. An unset knob takes its
  * default; a value that does not parse, or falls below the knob's
  * minimum, fails with an error naming the variable and the value — not a
  * bare `NumberFormatException` from some object's initialiser. */
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

  private def read[A](name: String, default: A, min: A, env: Map[String, String])(
      parse: String => Option[A])(implicit ord: Ordering[A]): A =
    env.get(name) match {
      case None => default
      case Some(raw) =>
        parse(raw.trim).filter(ord.gteq(_, min)).getOrElse(throw new IllegalArgumentException(
          s"$name='$raw': expected a number >= $min"))
    }
}
