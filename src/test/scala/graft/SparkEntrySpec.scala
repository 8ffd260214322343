package graft

/** Driver-contract invariants: the correctness gate compares
  * `SparkEntry.queries` against `SparkEntry.oracleSql` by NAME, so a
  * key drift (query without oracle, or stale oracle for a removed
  * query) silently downgrades a hash-checked operator to a rows-only
  * check — exactly the hole the round-1 verdict flagged. Pin the sets.
  */
class SparkEntrySpec extends SparkTestBase {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("query names are unique across the module maps (no silent overwrite)") {
    import graft.queries._
    val all = Seq(
      "Parity" -> Parity.queries.keySet, "Analytics" -> Analytics.queries.keySet,
      "Extensions" -> Extensions.queries.keySet, "StreamingQ" -> StreamingQ.queries.keySet)
    for {
      Seq((an, as), (bn, bs)) <- all.combinations(2)
      overlap = as intersect bs
    } assert(overlap.isEmpty, s"$an and $bn both define: ${overlap.toSeq.sorted}")
  }

  test("flagship entry returns rows on sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the session factory: 4 shuffle partitions, UTC, and the graft " +
       "rules installed exactly once across repeated calls") {
    import graft.plans.{TopKPerKeyStrategy, TopKViaWindowRewrite}
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    val again = LocalSession(4)
    assert(again eq spark, "a second call must return the live session")
    assert(again.experimental.extraOptimizations === Seq(TopKViaWindowRewrite))
    assert(again.experimental.extraStrategies === Seq(TopKPerKeyStrategy))
  }
}
