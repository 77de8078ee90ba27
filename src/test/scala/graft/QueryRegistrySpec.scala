package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The driver's query registry: every query is declared once, by one
  * family, with its engine body and its oracle together; `SparkEntry`
  * only indexes the families. The maps it derives (`toMap`) would drop a
  * duplicate name silently, so uniqueness is checked on the declarations. */
class QueryRegistrySpec extends AnyFunSuite {

  private val declared = SparkEntry.families.flatMap(f => f.queries.map(f -> _))

  test("query names are unique across families") {
    val names = declared.map(_._2.name)
    assert(names.diff(names.distinct).isEmpty, names.diff(names.distinct))
    val aux = SparkEntry.families.flatMap(_.oracleAux.keys)
    assert(aux.diff(aux.distinct).isEmpty, aux.diff(aux.distinct))
  }

  test("queries and oracleSql index the same 231 names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 231)
    assert(declared.size == 231)
    val blank = declared.collect { case (_, q) if q.oracle.trim.isEmpty => q.name }
    assert(blank.isEmpty, s"queries without oracle SQL: $blank")
  }

  test("every aux dump is read by an oracle of the family that declares it") {
    val unread = for {
      f <- SparkEntry.families
      name <- f.oracleAux.keys
      if !f.queries.exists(_.oracle.contains(s"${SparkEntry.OracleAuxDir}/$name/"))
    } yield s"${f.getClass.getSimpleName.stripSuffix("$")}: $name"
    assert(unread.isEmpty, unread.mkString(", "))
    assert(SparkEntry.oracleAux.keySet ==
      SparkEntry.families.flatMap(_.oracleAux.keys).toSet)
  }

  test("SparkEntry declares no query itself") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    assert(!src.contains("Query("), "SparkEntry constructs a Query")
    assert(!src.contains("\"\"\""), "SparkEntry holds SQL text")
    val named = declared.map(_._2.name).filter(n => src.contains("\"" + n + "\""))
    assert(named.isEmpty, s"SparkEntry names queries: $named")
  }

  test("only QueryInputs names the febrl4 truth and golden-cluster files") {
    val guarded = Seq("febrl4_truth.csv", "febrl4_golden_clusters.parquet")
    def source(cls: Class[_]) = Paths.get("src/main/scala",
      cls.getName.stripSuffix("$").replace('.', '/') + ".scala")
    val inputs = new String(Files.readAllBytes(source(QueryInputs.getClass)), "UTF-8")
    guarded.foreach(g => assert(inputs.contains(g), s"QueryInputs does not name $g"))
    val offenders = for {
      f <- SparkEntry.families
      path = source(f.getClass)
      (line, i) <- new String(Files.readAllBytes(path), "UTF-8").split("\n").zipWithIndex
      if guarded.exists(line.contains)
    } yield s"$path:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
