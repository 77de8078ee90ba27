package graft

import org.apache.spark.sql.functions._

/** The codegen accounting helper: a query with code no earlier query
  * generated compiles, attributed to its SQL execution and this spec's
  * call site; the same query again finds its classes in Spark's cache. */
class CodegenCountSpec extends SparkSpec {

  test("CodegenCount attributes a new query's compilations and sees a warm rerun compile none") {
    // a literal no other spec uses makes the generated code new to the JVM
    val salt = System.nanoTime() % 1000003L
    def query() = spark.range(1000).select((col("id") * salt + 7).as("x"))
      .where(col("x") % 3 === 1).agg(sum("x")).head()

    val (first, cold) = CodegenCount.record(spark)(query())
    assert(cold.total >= 1)
    assert(cold.compiles.size == cold.total, cold.table)
    val executions = cold.perExecution.filter(_._1 >= 0)
    assert(executions.nonEmpty, cold.table)
    assert(executions.forall(_._2.contains("CodegenCountSpec")), cold.table)

    val (second, warm) = CodegenCount.record(spark)(query())
    assert(second == first)
    assert(warm.total == 0, warm.table)
  }
}
