package graft

/** Numeric settings read from environment variables. */
object Env {
  /** `name` as a Long, `default` when unset. A malformed value fails with a
    * message naming the variable and the value. */
  def long(name: String, default: Long, env: collection.Map[String, String] = sys.env): Long =
    env.get(name).fold(default) { v =>
      v.trim.toLongOption.getOrElse(
        throw new IllegalArgumentException(s"$name must be an integer, got '$v'"))
    }
}
