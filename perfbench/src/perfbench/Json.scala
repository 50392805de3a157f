package perfbench

/** Minimal JSON rendering for the result line and the span file. */
object Json {

  def str(s: String): String = graft.HarnessUtil.jsonQuote(s)

  /** Full-precision number; JSON has no infinity, so an infinite sample
    * (a failed request) renders as the largest finite double. */
  def num(d: Double): String =
    if (d.isNaN) "null"
    else if (d.isInfinite) (if (d > 0) Double.MaxValue else -Double.MaxValue).toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
