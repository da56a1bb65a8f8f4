package graft

/** Every catalog entry must plan, execute at sf0.001, and return rows —
  * the same shape the driver's smoke/verify checks take. */
class CatalogSpec extends SparkSpecBase {

  test("catalog has no duplicate query names") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size === names.size)
  }

  test("every oracle key is a query key") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("bounded-window allowlist carries only live catalog keys") {
    val stale = graft.plans.PlanLint.boundedWindowAllowlist.keySet --
      SparkEntry.queries.keySet
    assert(stale.isEmpty, s"stale allowlist keys: $stale")
  }

  test("the scale read-out's entries are live catalog keys, each listed once") {
    val names = ScaleSoak.entries
    assert(names.distinct.size === names.size, s"duplicates: ${names.diff(names.distinct)}")
    val stale = names.toSet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"ScaleSoak.entries not in the catalog: $stale")
  }

  SparkEntry.all.foreach { q =>
    test(s"${q.name} executes and returns rows at sf0.001") {
      val df = q.run(spark, sf0001)
      // VERDICT r6 item 3 — unpartitioned window ⇒ bounded-frame
      // allowlist: an entry may plan a partitionSpec-empty WindowExec
      // ONLY when PlanLint.boundedWindowAllowlist declares why its frame
      // is bounded; everything else must plan zero of them (use
      // Blocked.cumulative for data-scaling global order).
      val gw = graft.plans.PlanLint.globalWindows(df)
      if (gw.nonEmpty)
        assert(graft.plans.PlanLint.boundedWindowAllowlist.contains(q.name),
          s"${q.name} plans an unpartitioned WindowExec (${gw.map(_.severity).mkString(",")}) " +
            "but is not in PlanLint.boundedWindowAllowlist")
      assert(df.count() > 0, s"${q.name} returned 0 rows")
    }
  }
}
