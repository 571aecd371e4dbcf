package perfbench

/** The reference result for the CDC workload, in plain Scala and apart
  * from the engine: walk the change log in lsn order; a create or update
  * sets the key's row, a delete drops the key. */
object CdcFold {
  def fold(log: Iterable[Change]): Map[Long, Change] =
    log.toSeq.sortBy(_.lsn).foldLeft(Map.empty[Long, Change]) { (m, c) =>
      if (c.op == "d") m - c.id else m.updated(c.id, c)
    }
}
