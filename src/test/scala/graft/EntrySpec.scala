package graft

/** t1 smoke: the flagship entry query returns rows (driver contract). */
class EntrySpec extends SparkSpec {
  test("entry returns >0 rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // the registry merges the modules' maps, so a name registered twice
  // would silently keep only the later module's query or oracle
  test("no query or oracle name is registered by two modules") {
    def dups(names: Seq[String]) =
      names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    val q = dups(SparkEntry.modules.flatMap(_.queries.keys))
    val o = dups(SparkEntry.modules.flatMap(_.oracles.keys))
    assert(q.isEmpty, s"queries registered twice: $q")
    assert(o.isEmpty, s"oracles registered twice: $o")
  }
}
