package graft

import org.apache.spark.sql.types._

/** Drift guard for the driver's decimal-rendering trap (round 1: 15
  * hash-reds from `5884649.40` vs `5884649.4`): no oracle-paired query
  * may EMIT a DecimalType column. Decimal is required internally for
  * order-independent money sums, but the output boundary must be DOUBLE
  * (or string/integer) so Spark's and DuckDB's renderings cannot
  * diverge. Walks every query's output schema recursively — including
  * struct/array/map element types — at sf0.001.
  */
class SchemaLintSpec extends SparkSpec {

  private def decimalsIn(dt: DataType, path: String): Seq[String] = dt match {
    case _: DecimalType => Seq(path)
    case s: StructType =>
      s.fields.toSeq.flatMap(f => decimalsIn(f.dataType, s"$path.${f.name}"))
    case a: ArrayType => decimalsIn(a.elementType, s"$path[]")
    case m: MapType =>
      decimalsIn(m.keyType, s"$path.key") ++
        decimalsIn(m.valueType, s"$path.value")
    case _ => Nil
  }

  test("no oracle-paired query emits a DECIMAL column") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val schema = fn(spark, sf).schema
        decimalsIn(schema, name)
    }
    assert(offenders.isEmpty,
      s"DECIMAL at the output boundary breaks the driver hash: $offenders")
  }

  test("every query is oracle-paired, and no oracle is orphaned") {
    // a query without an oracle silently degrades to a rows-only check
    // in the driver; an oracle without a query is dead weight — keep
    // the two maps in lockstep
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without query: ${o -- q}")
  }

  test("a query name registered by two modules fails, naming the key") {
    val e = intercept[IllegalArgumentException](SparkEntry.merge(Seq(
      Map("a_q" -> 1, "dup_q" -> 2), Map("dup_q" -> 3, "b_q" -> 4))))
    assert(e.getMessage.contains("dup_q"), e.getMessage)
    assert(!e.getMessage.contains("a_q"), e.getMessage)
  }

  test("every module's queries and oracles land in the registry") {
    val mods = SparkEntry.modules
    assert(mods.map(_.queries.size).sum === SparkEntry.queries.size)
    assert(mods.map(_.oracles.size).sum === SparkEntry.oracleSql.size)
  }
}
