package graft.core

/** Env-var parsing for [[Sessions]]. A malformed value must fail
  * with a message NAMING the variable — `sys.env.get(x).map(_.toLong)`
  * at object-init time surfaces as an opaque
  * ExceptionInInitializerError on the whole enclosing object instead. */
private[graft] object Env {
  def long(name: String, default: Long): Long =
    sys.env.get(name) match {
      case None => default
      case Some(raw) =>
        try raw.trim.toLong
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$name must be a long, got '$raw'")
        }
    }
}
