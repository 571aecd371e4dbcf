package perfbench

/** Self-check of the benchmark's own Scala code, with no Spark session:
  * the CDC reference fold on a hand-written change log, and the change-log
  * generator's determinism and op choice.
  * Run by `python3 perfbench/selfcheck.py`; exits non-zero on failure. */
object SelfCheck {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    def c(op: String, lsn: Long, id: Long, name: String) = Change(op, lsn, id, name, lsn * 10)
    // Given out of lsn order on purpose: the fold must sort.
    val log = Seq(
      c("c", 1, 1, "a"), c("c", 2, 2, "b"), c("u", 4, 2, "b2"), c("c", 3, 3, "c"),
      c("d", 5, 1, "a"), c("u", 7, 3, "c3"), c("u", 6, 3, "c2"), c("c", 8, 1, "a2"),
      c("d", 9, 2, "b2"))
    val folded = CdcFold.fold(log).map { case (k, v) => k -> v.name }
    check("fold keeps the latest change per key and drops deleted keys",
      folded == Map(1L -> "a2", 3L -> "c3"))
    check("fold of an empty log is empty", CdcFold.fold(Nil).isEmpty)
    check("delete as the only change leaves nothing",
      CdcFold.fold(Seq(c("d", 1, 9, "x"))).isEmpty)

    val (l1, l2) = (new ChangeLog(7, 100), new ChangeLog(7, 100))
    Seq(l1, l2).foreach { l => l.load(); l.small(50, 4); l.large(300) }
    check("the same seed gives the same change log", l1.all == l2.all)
    check("lsn increases by one per change",
      l1.all.map(_.lsn) == (1L to l1.all.size.toLong))
    val seen = collection.mutable.Set.empty[Long]
    val opsValid = l1.all.forall { ch =>
      val ok = if (seen(ch.id)) ch.op != "c" else ch.op == "c"
      if (ch.op == "d") seen -= ch.id else seen += ch.id
      ok
    }
    check("creates only for absent keys, updates and deletes only for live ones", opsValid)
    val small = new ChangeLog(3, 1000)
    small.load()
    val batch = small.small(200, 6)
    check("a small batch stays within its key window",
      batch.map(_.id).max - batch.map(_.id).min < 6)

    val d = Change("d", 3, 4, "n", 5).json
    check("a delete carries the row in before, null after",
      d.contains(""""before":{"id":4""") && d.contains(""""after":null"""))

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
