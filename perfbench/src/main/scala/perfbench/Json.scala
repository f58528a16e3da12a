package perfbench

/** Minimal JSON writing for the result lines. */
object Json {
  def str(s: String): String = graft.util.JsonUtil.quote(s)

  /** A number with all its digits; non-finite values have no JSON form. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
