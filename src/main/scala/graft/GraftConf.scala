package graft

/** Fail-fast parsing of the settable `spark.graft.*` knobs (README,
  * "Configuration"): a value that does not parse, or parses outside
  * its key's contract, raises an IllegalArgumentException naming the
  * key and the value at the call that reads it — never a bare
  * NumberFormatException, a silently ignored setting, or a failure deep
  * inside planning.
  */
object GraftConf {
  /** `read` returns the value, or None when `raw` breaks the contract
    * `expected` describes; a throwing `read` counts as None.
    */
  def parse[T](key: String, raw: String, expected: String)(read: String => Option[T]): T =
    scala.util.Try(read(raw.trim)).toOption.flatten.getOrElse(
      throw new IllegalArgumentException(s"$key='$raw' is invalid: expected $expected"))
}
