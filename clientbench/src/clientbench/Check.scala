package clientbench

/** Answer checks against the generator's ledger (gen.py writes each
  * op's expected answer beside its statement). */
object Check {

  /** splitmix64 finalizer; gen.mix64 is the same. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** gen.row_hash: order-independent checksum term of one buys row. */
  def rowHash(vals: Array[Long]): Long = {
    var k = vals(0)
    var i = 1
    while (i < vals.length) { k = k * 1000003L + vals(i); i += 1 }
    mix64(k)
  }

  private def asLong(v: Any): Long = v match {
    case l: Long => l
    case s: String => s.toLong
    case other => throw new IllegalStateException(s"not a long: $other")
  }

  /** Cells equal as text, or as numbers when both read as numbers. */
  private def same(expect: String, got: Any): Boolean = {
    val g = if (got == null) "\\N" else got.toString
    g == expect || ((g.toDoubleOption, expect.toDoubleOption) match {
      case (Some(a), Some(b)) => a == b
      case _ => false
    })
  }

  /** (ok, detail) for a read op's rows. */
  def answer(op: Op, rows: Array[Array[Any]]): (Boolean, String) = {
    val want = op.expect.split("\\|", -1)
    op.kind match {
      case "export" =>
        var sum = 0L
        rows.foreach(r => sum += rowHash(r.map(asLong)))
        val got = s"${rows.length}|${java.lang.Long.toUnsignedString(sum)}"
        (got == op.expect, s"export got $got want ${op.expect}")
      case _ =>
        val ok = rows.length == 1 && rows(0).length == want.length &&
          want.indices.forall(i => same(want(i), rows(0)(i)))
        (ok, s"got ${rows.map(_.mkString("|")).mkString(";")} " +
          s"want ${op.expect}")
    }
  }
}
