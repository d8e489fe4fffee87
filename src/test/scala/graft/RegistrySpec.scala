package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Contract guards over the whole query registry — properties the
  * driver's harness depends on but only fails at round-grading time. */
class RegistrySpec extends SparkSpec {

  test("every oracle key has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("the no-oracle set is exactly the documented HLL exception") {
    // every operator ships with a DuckDB oracle; the single rows-only
    // entry is the HLL estimate itself (not portable to DuckDB), whose
    // integer error-bound companion IS hash-checked. A new query
    // landing here without an oracle is a gate regression, not a style
    // choice.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == Set("a15b_approx_distinct_users"),
      s"queries without oracles: $noOracle")
  }

  test("every registered query output is all-scalar columns") {
    // the driver's compare layer (even the rows-only check for no-oracle
    // queries) sorts every column in pandas, where array/map/struct cells
    // are unhashable — round 1 lost two queries to exactly this
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val schema = fn(spark, sf).schema
      schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => s"$name.${f.name}"
      }
    }
    assert(offenders.isEmpty, s"non-scalar output columns: $offenders")
  }

  test("query names are unique across modules") {
    // queries is built by ++ over module maps — a duplicated name would
    // silently shadow an earlier module's query
    val all = SparkEntry.modules.map(_._1)
    val names = all.flatMap(_.keys)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(names.size == SparkEntry.queries.size)
  }

  test("flagship entry returns rows on the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("EVERY registered query audits free of scale-killers") {
    // PlanAudit works on the optimized plan, so this sweeps the whole
    // registry without executing anything: no registered query may
    // contain a global window or an unhinted cartesian join — the two
    // defects that die first at 100 TB
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      graft.plans.PlanAudit.audit(fn(spark, sf))
        .filter(_.level == "error")
        .map(f => s"$name: [${f.rule}] ${f.detail}")
    }
    assert(offenders.isEmpty, s"scale-killers in registry:\n${offenders.mkString("\n")}")
    spark.catalog.clearCache() // some query builders persist() intermediates
  }
}
