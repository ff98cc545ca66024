package perfbench

/** Unit test of [[Summary]], run by `perfbench/test_stats.py`; exits
  * non-zero on the first failed assertion.
  */
object ChecksumTest {

  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"FAILED: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val rnd = new java.util.SplittableRandom(3)
    val rows = IndexedSeq.tabulate(50)(i => (i * 3L, Array(rnd.nextDouble(), i.toDouble)))
    val whole = Summary.of(rows)
    check(whole.count == 50 && whole.sorted, "sequential summary of rising keys")
    for (k <- 0 to rows.size)
      check(Summary.of(rows.take(k)) ++ Summary.of(rows.drop(k)) == whole,
        s"split at $k combines to the sequential summary")
    for (a <- 0 to 10; b <- a to 10; c <- b to rows.size) {
      val parts = Seq(rows.take(a), rows.slice(a, b), rows.slice(b, c), rows.drop(c))
      check(parts.map(Summary.of).reduce(_ ++ _) == whole, s"four-way split $a/$b/$c")
    }
    check(Summary.empty ++ whole == whole && whole ++ Summary.empty == whole, "empty is neutral")

    val swapped = rows.updated(10, rows(11)).updated(11, rows(10))
    val sw = Summary.of(swapped)
    check(!sw.sorted, "swapped rows are out of order")
    check(sw.count == whole.count && sw.sum == whole.sum, "the sum ignores order")
    check(!(Summary.of(rows.take(25)) ++ Summary.of(rows.take(25))).sorted,
      "a repeated key breaks the order")

    val changed = rows.updated(7, (rows(7)._1, Array(rows(7)._2(0) + 1e-9, rows(7)._2(1))))
    check(Summary.of(changed).sum != whole.sum, "a changed value changes the sum")
    val rekeyed = rows.updated(7, (rows(7)._1 + 1, rows(7)._2))
    check(Summary.of(rekeyed).sum != whole.sum, "a changed key changes the sum")

    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    check(Summary.rowHash(1, Array(Double.NaN)) == Summary.rowHash(1, Array(otherNaN)),
      "every NaN hashes alike")
    println("ok")
  }
}
